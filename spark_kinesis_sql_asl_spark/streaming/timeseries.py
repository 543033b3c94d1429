"""Streaming twins for the time-series family (B111-B113).

Round-5 verdict item 4: B110 (OHLC) got its streaming parity twin in round
4; this module adds the remaining three as keyed arbitrary-stateful
operators, each with a batch-parity test in tests/test_streaming.py under
the staging-dir availableNow replay harness (SURVEY.md §5.2.3).

All three keep their state through ``applyInPandasWithState``, the one
arbitrary-state API of this package (streaming/stateful.py, B68).

Ordering contract: these folds assume per-key batches arrive in event-time
order (the replay harness stages files in global (ts, event_id) order, and
a Kinesis shard delivers per-partition-key order). Rows are re-sorted
WITHIN each micro-batch; cross-batch reordering beyond the documented
tie-handling is out of scope — a production deployment would front these
with a watermarked buffer stage, which changes latency, not the fold.

State sizes (the 100 TB argument):
- time-weighted LOCF: O(1) per event_type — last observation + exact sums.
- forward as-of:      O(pending clicks) per user — clicks are held ONLY
  until the next purchase arrives, then flushed; a TTL timer would bound
  abandoned sessions in production.
- rolling slope:      O(frame) per event_type — a 24-row ring buffer plus
  the series origin; constant regardless of stream length.

Exactness: every accumulator is integer (epoch-µs gaps, floor-cents,
relative seconds); Python ints are arbitrary-precision so Σ cents·w_us
cannot overflow mid-stream. Sums that may exceed int64 cross the state /
output boundary as STRINGS (decimal-free, Arrow-safe) and are parsed back
to int — the streaming analog of the batch operator's decimal(25,0)
accumulators.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

# --- B111 twin: time-weighted average (LOCF) ---------------------------------

_TW_OUT_SCHEMA = (
    "event_type string, n_segments bigint, total_us bigint, "
    "sum_cw string, seq bigint"
)
_TW_STATE_SCHEMA = (
    "last_us bigint, last_cents bigint, n_seg bigint, total_us bigint, "
    "sum_cw string, seq bigint"
)


def streaming_time_weighted(event_stream):
    """B111-stream: TimescaleDB ``time_weight('LOCF')`` as keyed state.

    Each observation holds until the next one arrives, so closing a
    segment needs exactly the LAST observation — (last_us, last_cents) —
    plus the running exact sums. Per micro-batch, rows are folded in
    (us, event_id) order, the held observation closes its segment against
    the batch's first row, and the batch's last row becomes the held one.
    Emits the running (n_segments, total_us, sum_cw) per key per batch;
    the LAST emission per key (max seq) equals the batch operator's
    aggregate exactly — zero-gap simultaneous events contribute 0 weight
    in both forms.

    Input columns: event_type, us (epoch µs), cents, event_id.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            last_us, last_cents, n_seg, total_us, sum_cw_s, seq = state.get
            sum_cw = int(sum_cw_s)
            have_last = True
        else:
            last_us = last_cents = n_seg = total_us = 0
            sum_cw = 0
            seq = 0
            have_last = False
        for pdf in pdfs:
            pdf = pdf.sort_values(["us", "event_id"])
            for us, cents in zip(pdf["us"], pdf["cents"]):
                us = int(us)
                cents = int(cents)
                if have_last:
                    w = us - last_us
                    n_seg += 1
                    total_us += w
                    sum_cw += last_cents * w
                last_us, last_cents, have_last = us, cents, True
        seq += 1
        state.update((last_us, last_cents, n_seg, total_us, str(sum_cw), seq))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_segments": [n_seg],
                "total_us": [total_us],
                "sum_cw": [str(sum_cw)],
                "seq": [seq],
            }
        )

    return event_stream.groupBy("event_type").applyInPandasWithState(
        fold,
        outputStructType=_TW_OUT_SCHEMA,
        stateStructType=_TW_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- B112 twin: forward as-of (click -> next purchase) ------------------------

_FA_OUT_SCHEMA = (
    "event_id bigint, user_id bigint, us bigint, purchase_us bigint, "
    "seq bigint"
)
_FA_STATE_SCHEMA = (
    "pend_ids array<bigint>, pend_us array<bigint>, last_purchase_us bigint, "
    "seq bigint"
)


def streaming_forward_asof(event_stream):
    """B112-stream: forward as-of as pend-and-flush keyed state.

    The batch form needs a look-AHEAD (min purchase_ts over the following
    frame); streaming inverts it into a look-BACK: clicks wait in per-user
    state, each arriving purchase flushes every pending click at-or-before
    it. The at-or-after tie (a purchase exactly simultaneous with a click
    matches it — B112's is_p ordering) is honored in both directions:
    within a batch rows fold in (ts, is_p, event_id) order so the click is
    seen first, and across batches ``last_purchase_us`` lets a click that
    arrives AFTER its exactly-simultaneous purchase still match.

    Unmatched clicks are re-emitted each batch with NULL purchase_us, so
    the memory-sink dedup (max seq per event_id) converges to the batch
    result: matched rows carry their purchase, never-matched rows end NULL
    — same as the batch operator's NULL next_purchase_ts.

    Input columns: user_id, us (epoch µs), event_id, is_p (1=purchase).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            pend_ids, pend_us, last_purchase_us, seq = state.get
            pend = [(int(u), int(i)) for u, i in zip(pend_us, pend_ids)]
            last_purchase_us = int(last_purchase_us)
        else:
            pend = []
            last_purchase_us = -1
            seq = 0
        out_ids, out_us, out_match = [], [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(["us", "is_p", "event_id"])
            for us, eid, is_p in zip(pdf["us"], pdf["event_id"], pdf["is_p"]):
                us, eid = int(us), int(eid)
                if is_p:
                    for c_us, c_id in pend:
                        out_ids.append(c_id)
                        out_us.append(c_us)
                        out_match.append(us)
                    pend = []
                    last_purchase_us = us
                else:
                    if us == last_purchase_us:
                        # tie across batches: the simultaneous purchase
                        # already arrived — at-or-after says it matches
                        out_ids.append(eid)
                        out_us.append(us)
                        out_match.append(us)
                    else:
                        pend.append((us, eid))
        seq += 1
        for c_us, c_id in pend:  # still waiting: current answer is NULL
            out_ids.append(c_id)
            out_us.append(c_us)
            out_match.append(None)
        state.update(
            (
                [i for _, i in pend],
                [u for u, _ in pend],
                last_purchase_us,
                seq,
            )
        )
        yield pd.DataFrame(
            {
                "event_id": pd.Series(out_ids, dtype="int64"),
                "user_id": pd.Series([key[0]] * len(out_ids), dtype="int64"),
                "us": pd.Series(out_us, dtype="int64"),
                "purchase_us": pd.Series(out_match, dtype="Int64"),
                "seq": pd.Series([seq] * len(out_ids), dtype="int64"),
            }
        )

    return event_stream.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=_FA_OUT_SCHEMA,
        stateStructType=_FA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- B113 twin: rolling OLS slope ---------------------------------------------

_RS_FRAME = 24  # must match operators/timeseries._SLOPE_FRAME

_RS_OUT_SCHEMA = (
    "event_type string, event_id bigint, n bigint, "
    "slope_num bigint, slope_den bigint"
)
_RS_STATE_SCHEMA = (
    "first_us bigint, xs array<bigint>, cs array<bigint>, seq bigint"
)


def streaming_rolling_slope(event_stream):
    """B113-stream: trailing-{_RS_FRAME} OLS slope as a keyed ring buffer.

    State per event_type: the series origin (first_us, fixing the relative
    integer-seconds x axis across batches) and the last {_RS_FRAME}
    (x, cents) points. Each arriving row appends to the ring and, once the
    frame is full, emits the EXACT integer numerator/denominator
    n·Σxy − Σx·Σy / n·Σxx − (Σx)² — the float division and round(6) stay
    OUT of the stream (the parity test performs them identically on both
    sides), so cross-engine float-rounding can never drift the state.
    Rows fold in (x, event_id) order within a batch — B113's window order.

    Input columns: event_type, us (epoch µs), cents, event_id.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            first_us, xs, cs, seq = state.get
            first_us = int(first_us)
            ring = [(int(x), int(c)) for x, c in zip(xs, cs)]
        else:
            first_us = None
            ring = []
            seq = 0
        out = {"event_id": [], "n": [], "num": [], "den": []}
        for pdf in pdfs:
            pdf = pdf.sort_values(["us", "event_id"])
            rows = [
                (int(us), int(eid), int(cents))
                for us, eid, cents in zip(
                    pdf["us"], pdf["event_id"], pdf["cents"]
                )
            ]
            if first_us is None and rows:
                first_us = rows[0][0]
            rows = sorted(
                ((us - first_us) // 1_000_000, eid, cents)
                for us, eid, cents in rows
            )
            for x, eid, cents in rows:
                ring.append((x, cents))
                if len(ring) > _RS_FRAME:
                    ring.pop(0)
                if len(ring) == _RS_FRAME:
                    n = _RS_FRAME
                    sx = sum(x_ for x_, _ in ring)
                    sy = sum(c_ for _, c_ in ring)
                    sxy = sum(x_ * c_ for x_, c_ in ring)
                    sxx = sum(x_ * x_ for x_, _ in ring)
                    out["event_id"].append(eid)
                    out["n"].append(n)
                    out["num"].append(n * sxy - sx * sy)
                    out["den"].append(n * sxx - sx * sx)
        seq += 1
        state.update(
            (
                first_us if first_us is not None else -1,
                [x for x, _ in ring],
                [c for _, c in ring],
                seq,
            )
        )
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(out["event_id"]),
                "event_id": pd.Series(out["event_id"], dtype="int64"),
                "n": pd.Series(out["n"], dtype="int64"),
                "slope_num": pd.Series(out["num"], dtype="int64"),
                "slope_den": pd.Series(out["den"], dtype="int64"),
            }
        )

    return event_stream.groupBy("event_type").applyInPandasWithState(
        fold,
        outputStructType=_RS_OUT_SCHEMA,
        stateStructType=_RS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- B131 twin: one-sided CUSUM change-point ---------------------------------

_CUSUM_OUT_SCHEMA = (
    "n_name string, n_days bigint, mu_cents bigint, max_cusum_cents bigint, "
    "alarm_day_us bigint, alarm boolean, seq bigint"
)
_CUSUM_STATE_SCHEMA = "days array<bigint>, cents array<bigint>, seq bigint"


def streaming_cusum(order_stream, slack_div: int = 20, alarm_mult: int = 5):
    """B131-stream: one-sided CUSUM with a self-estimated baseline as
    keyed state. The batch statistic depends on mu over the WHOLE series,
    so a constant-state online form cannot equal it; the honest streaming
    twin keeps the per-nation daily series itself — state bounded by the
    CALENDAR (~2.4k (day, cents) pairs regardless of order volume, the
    exact bound the batch fold rides) — accumulates arriving orders into
    it, and re-derives (mu, slack, the fold) per micro-batch. Every
    emission is the batch answer for the data seen so far; the final one
    equals q_cusum_changepoint exactly (integer mu/slack divisions, the
    same max(0, s + x - mu - slack) recurrence, first-attain day kept).

    Input columns: n_name, day_us (epoch µs of the truncated day),
    cents (order total in floor cents).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            days, cents, seq = state.get
            acc = dict(zip((int(d) for d in days), (int(c) for c in cents)))
        else:
            acc = {}
            seq = 0
        for pdf in pdfs:
            for day_us, c in zip(pdf["day_us"], pdf["cents"]):
                d = int(day_us)
                acc[d] = acc.get(d, 0) + int(c)
        seq += 1
        days_sorted = sorted(acc)
        state.update(
            (days_sorted, [acc[d] for d in days_sorted], seq)
        )
        n = len(days_sorted)
        total = sum(acc.values())
        mu = _trunc_div(total, n)
        slack = _trunc_div(mu, slack_div)
        s = best = 0
        best_day = None
        for d in days_sorted:
            s = max(0, s + acc[d] - mu - slack)
            if s > best:
                best, best_day = s, d
        yield pd.DataFrame(
            {
                "n_name": [key[0]],
                "n_days": [n],
                "mu_cents": [mu],
                "max_cusum_cents": [best],
                "alarm_day_us": pd.array([best_day], dtype="Int64"),
                "alarm": [best > alarm_mult * mu],
                "seq": [seq],
            }
        )

    return order_stream.groupBy("n_name").applyInPandasWithState(
        fold,
        outputStructType=_CUSUM_OUT_SCHEMA,
        stateStructType=_CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _trunc_div(a: int, b: int) -> int:
    """Truncate-toward-zero integer division — Spark's `div` (and DuckDB's
    `//`), NOT Python's floor `//`; the D7 canary class. mu and slack are
    non-negative in practice but the twin must not drift on hostile input."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


# --- B137 twin: burst-episode detection --------------------------------------

_BURST_OUT_SCHEMA = (
    "event_type string, start_hour bigint, end_hour bigint, n_hours bigint, "
    "peak_cnt bigint, burst_events bigint, seq bigint"
)
_BURST_STATE_SCHEMA = "hours array<bigint>, counts array<bigint>, seq bigint"


def streaming_burst_episodes(
    event_stream, rate_mult: int = 2, bucket_us: int = 3_600_000_000
):
    """B137-stream: burst episodes as keyed state. Like the CUSUM twin,
    the statistic depends on the WHOLE series (the type's own average
    hourly rate), so the honest state is the per-type hourly count map —
    bounded by the calendar, not by event volume — re-thresholded and
    re-grouped per micro-batch. Emissions are the full episode set for
    data seen so far (episodes can merge as gaps fill in, so consumers
    keep only the max-seq batch per type, not max-seq per episode).

    Input columns: event_type, us (epoch µs)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            hours, counts, seq = state.get
            acc = dict(
                zip((int(h) for h in hours), (int(c) for c in counts))
            )
        else:
            acc = {}
            seq = 0
        for pdf in pdfs:
            for us in pdf["us"]:
                h = int(us) // bucket_us
                acc[h] = acc.get(h, 0) + 1
        seq += 1
        hs = sorted(acc)
        state.update((hs, [acc[h] for h in hs], seq))
        total = sum(acc.values())
        n_hours = len(hs)
        bursts = [h for h in hs if acc[h] * n_hours >= rate_mult * total]
        rows = {
            "event_type": [], "start_hour": [], "end_hour": [],
            "n_hours": [], "peak_cnt": [], "burst_events": [], "seq": [],
        }
        i = 0
        while i < len(bursts):
            j = i
            while j + 1 < len(bursts) and bursts[j + 1] == bursts[j] + 1:
                j += 1
            ep = bursts[i : j + 1]
            rows["event_type"].append(key[0])
            rows["start_hour"].append(ep[0])
            rows["end_hour"].append(ep[-1])
            rows["n_hours"].append(len(ep))
            rows["peak_cnt"].append(max(acc[h] for h in ep))
            rows["burst_events"].append(sum(acc[h] for h in ep))
            rows["seq"].append(seq)
            i = j + 1
        yield pd.DataFrame(rows)

    return event_stream.groupBy("event_type").applyInPandasWithState(
        fold,
        outputStructType=_BURST_OUT_SCHEMA,
        stateStructType=_BURST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- B180 twin: maximum-drawdown profile --------------------------------------

_DD_TOP_K = 10  # must match operators/timeseries._DRAWDOWN_TOP_K
_DD_OUT_SCHEMA = (
    "grp string, epoch_day bigint, drawdown_cents bigint, rnk int, seq bigint"
)
_DD_STATE_SCHEMA = "days array<bigint>, cents array<bigint>, seq bigint"


def streaming_drawdown(order_stream):
    """B180-stream: maximum drawdown of the demeaned daily revenue walk as
    keyed state. Like B131's twin, the statistic depends on the WHOLE
    period (the walk demeans by n·y − Σ, and the running max looks back to
    day one), so the honest streaming form keeps the daily series itself —
    state bounded by the CALENDAR (~2.4k (day, cents) pairs regardless of
    order volume, the exact bound the batch windows ride) — and re-derives
    the walk per micro-batch in pure BIGINT: w_i = Σ_{j<=i}(n·c_j − s),
    dd_i = max_{j<=i} w_j − w_i, released as dd div n. Every emission is
    the batch top-{_DD_TOP_K} for the data seen so far; the final one
    equals q_win_drawdown exactly.

    The stream is a single GLOBAL group (constant key): the state is a
    |days|-bounded series, exactly the frame the batch operator's
    allowlisted partitionless window runs over — one task holding ~2.4k
    integer pairs, not a scale risk.

    Input columns: day_us (epoch µs of the truncated day), cents.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            days, cents, seq = state.get
            acc = dict(zip((int(d) for d in days), (int(c) for c in cents)))
        else:
            acc = {}
            seq = 0
        for pdf in pdfs:
            for day_us, c in zip(pdf["day_us"], pdf["cents"]):
                d = int(day_us) // 86_400_000_000
                acc[d] = acc.get(d, 0) + int(c)
        seq += 1
        days_sorted = sorted(acc)
        state.update((days_sorted, [acc[d] for d in days_sorted], seq))
        n = len(days_sorted)
        s = sum(acc.values())
        w = peak = 0
        rows = []  # (dd_scaled, day)
        for d in days_sorted:
            w += n * acc[d] - s
            peak = max(peak, w)
            rows.append((peak - w, d))
        rows.sort(key=lambda t: (-t[0], t[1]))
        top = rows[:_DD_TOP_K]
        yield pd.DataFrame(
            {
                "grp": [key[0]] * len(top),
                "epoch_day": pd.Series([d for _, d in top], dtype="int64"),
                "drawdown_cents": pd.Series(
                    [_trunc_div(dd, n) for dd, _ in top], dtype="int64"
                ),
                "rnk": pd.Series(range(1, len(top) + 1), dtype="int32"),
                "seq": pd.Series([seq] * len(top), dtype="int64"),
            }
        )

    return order_stream.withColumn(
        "grp", F.lit("all")
    ).groupBy("grp").applyInPandasWithState(
        fold,
        outputStructType=_DD_OUT_SCHEMA,
        stateStructType=_DD_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- B186 twin: rolling revenue/volume Pearson correlation --------------------

_RC_FRAME = 28  # must match operators/windows._ROLL_CORR_FRAME
_RC_OUT_SCHEMA = (
    "grp string, epoch_day bigint, kcents bigint, n_orders bigint, "
    "n_in_frame int, corr_num bigint, corr_den_x bigint, corr_den_y bigint, "
    "seq bigint"
)
_RC_STATE_SCHEMA = "days array<bigint>, kc array<bigint>, cnt array<bigint>, seq bigint"


def streaming_rolling_corr(order_stream):
    """B186-stream: trailing-{_RC_FRAME}-day Pearson correlation between
    daily revenue (kilocents) and order count as keyed state. A late order
    can land on ANY past day and shift every frame containing it, so the
    honest streaming form keeps the per-day (Σcents, count) series —
    calendar-bounded state, the B131s/B180s argument — and re-derives all
    frames per micro-batch in exact BIGINTs. The float division stays OUT
    of the stream (the B113s discipline): emissions carry the exact
    Pearson numerator n·Σxy − Σx·Σy and the two variance terms
    n·Σxx − Σx², n·Σyy − Σy²; the parity test performs the identical
    sqrt/divide on both sides. Day revenue is floor-cents summed FIRST,
    then div 1000 — matching the batch operator's kilocent quantization
    exactly.

    Input columns: day_us (epoch µs of the truncated day), cents.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            days, kc, cnt, seq = state.get
            acc = {
                int(d): [int(a), int(b)]
                for d, a, b in zip(days, kc, cnt)
            }
        else:
            acc = {}
            seq = 0
        for pdf in pdfs:
            for day_us, c in zip(pdf["day_us"], pdf["cents"]):
                d = int(day_us) // 86_400_000_000
                cur = acc.setdefault(d, [0, 0])
                cur[0] += int(c)  # raw cents; kilocent div at derive time
                cur[1] += 1
        seq += 1
        days_sorted = sorted(acc)
        state.update(
            (
                days_sorted,
                [acc[d][0] for d in days_sorted],
                [acc[d][1] for d in days_sorted],
                seq,
            )
        )
        xs = [_trunc_div(acc[d][0], 1000) for d in days_sorted]
        ys = [acc[d][1] for d in days_sorted]
        out = {
            "epoch_day": [], "kcents": [], "n_orders": [], "n_in_frame": [],
            "num": [], "dx": [], "dy": [],
        }
        for i, d in enumerate(days_sorted):
            lo = max(0, i - _RC_FRAME + 1)
            fx, fy = xs[lo : i + 1], ys[lo : i + 1]
            n = len(fx)
            sx, sy = sum(fx), sum(fy)
            sxy = sum(a * b for a, b in zip(fx, fy))
            sxx = sum(a * a for a in fx)
            syy = sum(b * b for b in fy)
            out["epoch_day"].append(d)
            out["kcents"].append(xs[i])
            out["n_orders"].append(ys[i])
            out["n_in_frame"].append(n)
            out["num"].append(n * sxy - sx * sy)
            out["dx"].append(n * sxx - sx * sx)
            out["dy"].append(n * syy - sy * sy)
        yield pd.DataFrame(
            {
                "grp": [key[0]] * len(out["epoch_day"]),
                "epoch_day": pd.Series(out["epoch_day"], dtype="int64"),
                "kcents": pd.Series(out["kcents"], dtype="int64"),
                "n_orders": pd.Series(out["n_orders"], dtype="int64"),
                "n_in_frame": pd.Series(out["n_in_frame"], dtype="int32"),
                "corr_num": pd.Series(out["num"], dtype="int64"),
                "corr_den_x": pd.Series(out["dx"], dtype="int64"),
                "corr_den_y": pd.Series(out["dy"], dtype="int64"),
                "seq": pd.Series([seq] * len(out["epoch_day"]), dtype="int64"),
            }
        )

    return order_stream.withColumn(
        "grp", F.lit("all")
    ).groupBy("grp").applyInPandasWithState(
        fold,
        outputStructType=_RC_OUT_SCHEMA,
        stateStructType=_RC_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- B190 twin: weekly seasonal decomposition ----------------------------------

_SF_OUT_SCHEMA = (
    "grp string, dow bigint, nd bigint, sd bigint, ng bigint, sg bigint, "
    "td bigint, tc bigint, dow_cents bigint, seq bigint"
)
_SF_STATE_SCHEMA = "days array<bigint>, cents array<bigint>, seq bigint"


def streaming_seasonal_forecast(order_stream):
    """B190-stream: the weekly seasonal decomposition as keyed state. A
    late order changes its day's revenue and therefore every trend frame
    containing that day AND the grand mean, so — like B131s/B180s/B186s —
    the honest streaming form keeps the per-day integer series itself
    (calendar-bounded state) and re-derives the full decomposition per
    micro-batch: centered 7-observed-day frames, detrended ``7·y − Σ7``
    values, per-dow/global sums — all in exact BIGINT. Emissions carry
    the EXACT integer components (per-dow n/Σ, global n/Σ, day count,
    total cents, per-dow cents); the float mean/recenter/forecast
    divisions stay OUT of the stream (the B113s/B186s discipline — the
    parity test applies the identical arithmetic to both sides).

    Input columns: day_us (epoch µs of the truncated day), cents.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            days, cents, seq = state.get
            acc = dict(zip((int(d) for d in days), (int(c) for c in cents)))
        else:
            acc = {}
            seq = 0
        for pdf in pdfs:
            for day_us, c in zip(pdf["day_us"], pdf["cents"]):
                d = int(day_us) // 86_400_000_000
                acc[d] = acc.get(d, 0) + int(c)
        seq += 1
        days_sorted = sorted(acc)
        state.update((days_sorted, [acc[d] for d in days_sorted], seq))
        xs = [acc[d] for d in days_sorted]
        n = len(days_sorted)
        per = {}  # dow -> [nd, sd]
        ng = sg = 0
        for i, d in enumerate(days_sorted):
            lo, hi = i - 3, i + 3
            if lo < 0 or hi >= n:
                continue
            detr7 = 7 * xs[i] - sum(xs[lo : hi + 1])
            cur = per.setdefault(d % 7, [0, 0])
            cur[0] += 1
            cur[1] += detr7
            ng += 1
            sg += detr7
        shares = {}
        for d in days_sorted:
            shares[d % 7] = shares.get(d % 7, 0) + acc[d]
        td, tc = n, sum(xs)
        dows = sorted(per)
        yield pd.DataFrame(
            {
                "grp": [key[0]] * len(dows),
                "dow": pd.Series(dows, dtype="int64"),
                "nd": pd.Series([per[w][0] for w in dows], dtype="int64"),
                "sd": pd.Series([per[w][1] for w in dows], dtype="int64"),
                "ng": pd.Series([ng] * len(dows), dtype="int64"),
                "sg": pd.Series([sg] * len(dows), dtype="int64"),
                "td": pd.Series([td] * len(dows), dtype="int64"),
                "tc": pd.Series([tc] * len(dows), dtype="int64"),
                "dow_cents": pd.Series(
                    [shares.get(w, 0) for w in dows], dtype="int64"
                ),
                "seq": pd.Series([seq] * len(dows), dtype="int64"),
            }
        )

    return order_stream.withColumn(
        "grp", F.lit("all")
    ).groupBy("grp").applyInPandasWithState(
        fold,
        outputStructType=_SF_OUT_SCHEMA,
        stateStructType=_SF_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- B194 twin: Bollinger-band breakout components -----------------------------

_BB_FRAME = 20  # must match operators/windows._BOLL_FRAME
_BB_OUT_SCHEMA = (
    "grp string, epoch_day bigint, kcents bigint, n int, sx bigint, "
    "sxx bigint, seq bigint"
)
_BB_STATE_SCHEMA = "days array<bigint>, cents array<bigint>, seq bigint"


def streaming_bollinger(order_stream):
    """B194-stream: the trailing-{_BB_FRAME}-day Bollinger frame sums as
    keyed state — the alerting form of the batch breakout scan (a band
    monitor is the canonical STREAMING use of Bollinger: flag today while
    it happens, not in tomorrow's batch). A late order can land on any
    past day and shift every frame containing it, so the honest streaming
    form keeps the per-day integer revenue series itself (calendar-
    bounded state, the B131s/B180s/B186s argument) and re-derives every
    full frame per micro-batch in exact BIGINTs. The float stays OUT of
    the stream (the B113s discipline): emissions carry the exact frame
    sums (n, Σx, Σx²) in the batch operator's kilocent quantization
    (floor-cents summed per day FIRST, then div 1000); the parity test
    performs the identical z expression and the compare-rounded-z
    breakout filter on both sides.

    Input columns: day_us (epoch µs of the truncated day), cents.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            days, cents, seq = state.get
            acc = dict(zip((int(d) for d in days), (int(c) for c in cents)))
        else:
            acc = {}
            seq = 0
        for pdf in pdfs:
            for day_us, c in zip(pdf["day_us"], pdf["cents"]):
                d = int(day_us) // 86_400_000_000
                acc[d] = acc.get(d, 0) + int(c)
        seq += 1
        days_sorted = sorted(acc)
        state.update((days_sorted, [acc[d] for d in days_sorted], seq))
        xs = [_trunc_div(acc[d], 1000) for d in days_sorted]
        out = {"epoch_day": [], "kcents": [], "n": [], "sx": [], "sxx": []}
        for i, d in enumerate(days_sorted):
            if i < _BB_FRAME - 1:
                continue  # warm-up: only full frames release (B173)
            fx = xs[i - _BB_FRAME + 1 : i + 1]
            out["epoch_day"].append(d)
            out["kcents"].append(xs[i])
            out["n"].append(len(fx))
            out["sx"].append(sum(fx))
            out["sxx"].append(sum(a * a for a in fx))
        yield pd.DataFrame(
            {
                "grp": [key[0]] * len(out["epoch_day"]),
                "epoch_day": pd.Series(out["epoch_day"], dtype="int64"),
                "kcents": pd.Series(out["kcents"], dtype="int64"),
                "n": pd.Series(out["n"], dtype="int32"),
                "sx": pd.Series(out["sx"], dtype="int64"),
                "sxx": pd.Series(out["sxx"], dtype="int64"),
                "seq": pd.Series(
                    [seq] * len(out["epoch_day"]), dtype="int64"
                ),
            }
        )

    return order_stream.withColumn(
        "grp", F.lit("all")
    ).groupBy("grp").applyInPandasWithState(
        fold,
        outputStructType=_BB_OUT_SCHEMA,
        stateStructType=_BB_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- B203 twin: Holt linear-trend smoothing state -------------------------------

_HL_H = 7  # must match operators/timeseries._HOLT_H
_HL_OUT_SCHEMA = (
    "grp string, h bigint, level_milli bigint, trend_milli bigint, "
    "forecast_milli bigint, e bigint, n bigint, seq bigint"
)
_HL_STATE_SCHEMA = "days array<bigint>, cents array<bigint>, seq bigint"


def _trunc_div_hl(a: int, d: int) -> int:
    q, r = divmod(a, d)
    return q + 1 if q < 0 and r else q  # toward zero — Spark div / DuckDB //


def streaming_holt_linear(order_stream):
    """B203-stream: Holt's level/trend smoother as keyed state — the
    canonical STREAMING forecaster (an EWMA-family smoother is the
    statistic monitoring systems run online). The naive online form
    (update (l, b) from each arriving record) breaks under late data: a
    late order changes a PAST day's revenue and therefore every state
    after it, so the honest streaming form keeps the per-day integer
    series itself (calendar-bounded state — the B131s/B180s/B186s/B190s
    argument) and RE-FOLDS the exact B203 recurrence per micro-batch:
    identical milli-cent lattice, identical truncating 1/4 steps, so
    the final emission equals the batch operator exactly (parity test
    performs the division-free compare on all integer columns).

    Input columns: day_us (epoch µs of the truncated day), cents.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            days, cents, seq = state.get
            acc = dict(zip((int(d) for d in days), (int(c) for c in cents)))
        else:
            acc = {}
            seq = 0
        for pdf in pdfs:
            for day_us, c in zip(pdf["day_us"], pdf["cents"]):
                d = int(day_us) // 86_400_000_000
                acc[d] = acc.get(d, 0) + int(c)
        seq += 1
        days_sorted = sorted(acc)
        state.update((days_sorted, [acc[d] for d in days_sorted], seq))
        ys = [acc[d] for d in days_sorted]
        out = {"h": [], "l": [], "b": [], "f": [], "e": [], "n": []}
        if len(ys) >= 2:
            l, b = 1000 * ys[0], 1000 * (ys[1] - ys[0])
            e = 0
            for y in ys[1:]:
                ym = 1000 * y
                e += abs(ym - (l + b))
                l2 = _trunc_div_hl(ym + 3 * (l + b), 4)
                b = _trunc_div_hl(l2 - l + 3 * b, 4)
                l = l2
            for h in range(1, _HL_H + 1):
                out["h"].append(h)
                out["l"].append(l)
                out["b"].append(b)
                out["f"].append(l + h * b)
                out["e"].append(e)
                out["n"].append(len(ys))
        yield pd.DataFrame(
            {
                "grp": [key[0]] * len(out["h"]),
                "h": pd.Series(out["h"], dtype="int64"),
                "level_milli": pd.Series(out["l"], dtype="int64"),
                "trend_milli": pd.Series(out["b"], dtype="int64"),
                "forecast_milli": pd.Series(out["f"], dtype="int64"),
                "e": pd.Series(out["e"], dtype="int64"),
                "n": pd.Series(out["n"], dtype="int64"),
                "seq": pd.Series([seq] * len(out["h"]), dtype="int64"),
            }
        )

    return order_stream.withColumn(
        "grp", F.lit("all")
    ).groupBy("grp").applyInPandasWithState(
        fold,
        outputStructType=_HL_OUT_SCHEMA,
        stateStructType=_HL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- B202 twin: Little's law reconciliation ------------------------------------

_LL_OUT_SCHEMA = (
    "grp string, mon_idx bigint, n_days bigint, area bigint, "
    "n_arrivals bigint, sum_dur_days bigint, seq bigint"
)
_LL_STATE_SCHEMA = "s array<bigint>, e array<bigint>, seq bigint"


def streaming_littles_law(span_stream):
    """B202-stream: the monthly L = lambda*W reconciliation as keyed state
    — the live form of the capacity audit (work-in-progress vs arrival
    rate x wait is exactly what an ops dashboard watches). A late or
    corrected interval shifts every month it overlaps, so the honest
    streaming form keeps the interval endpoints themselves — state is
    two parallel (s, e) day arrays, bounded by the ORDER VOLUME of the
    open ledger, not the record stream (fulfillment windows are weeks,
    so a deployment compacts closed months out of state; the harness
    keeps all, matching the batch horizon) — and re-derives the exact
    B202 integer ledger per micro-batch: net-change walk, per-month
    area, arrival counts and durations, all BIGINT. The final emission
    equals q_orders_littles_law's integer columns exactly.

    Input columns: s_day (epoch day of order), e_day (epoch day of
    first shipment).
    """
    import datetime as _dt

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def mon_of(day: int) -> int:
        dt = _dt.date(1970, 1, 1) + _dt.timedelta(days=day)
        return dt.year * 12 + dt.month

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            ss, ee, seq = state.get
            ss, ee = [int(x) for x in ss], [int(x) for x in ee]
        else:
            ss, ee, seq = [], [], 0
        for pdf in pdfs:
            ss.extend(int(v) for v in pdf["s_day"])
            ee.extend(int(v) for v in pdf["e_day"])
        seq += 1
        state.update((ss, ee, seq))
        net: dict[int, int] = {}
        arr: dict[int, list[int]] = {}
        for s, e in zip(ss, ee):
            net[s] = net.get(s, 0) + 1
            net[e + 1] = net.get(e + 1, 0) - 1
            m = mon_of(s)
            a = arr.setdefault(m, [0, 0])
            a[0] += 1
            a[1] += e - s + 1
        days = sorted(net)
        mc: dict[int, list[int]] = {}
        open_now = 0
        for i, d in enumerate(days):
            open_now += net[d]
            run_end = days[i + 1] if i + 1 < len(days) else d + 1
            for dd in range(d, run_end):
                m = mon_of(dd)
                c = mc.setdefault(m, [0, 0])
                c[0] += 1
                c[1] += open_now
        months = sorted(set(mc) & set(arr))
        yield pd.DataFrame(
            {
                "grp": [key[0]] * len(months),
                "mon_idx": pd.Series(months, dtype="int64"),
                "n_days": pd.Series([mc[m][0] for m in months], dtype="int64"),
                "area": pd.Series([mc[m][1] for m in months], dtype="int64"),
                "n_arrivals": pd.Series(
                    [arr[m][0] for m in months], dtype="int64"
                ),
                "sum_dur_days": pd.Series(
                    [arr[m][1] for m in months], dtype="int64"
                ),
                "seq": pd.Series([seq] * len(months), dtype="int64"),
            }
        )

    return span_stream.withColumn(
        "grp", F.lit("all")
    ).groupBy("grp").applyInPandasWithState(
        fold,
        outputStructType=_LL_OUT_SCHEMA,
        stateStructType=_LL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- B212 twin: Wilder RSI ------------------------------------------------------

_RSI_N = 14  # must match operators/timeseries._RSI_N
_RSI_OUT_SCHEMA = (
    "grp string, n_days bigint, n_up bigint, n_down bigint, "
    "avg_gain_milli bigint, avg_loss_milli bigint, rsi_ppm bigint, "
    "seq bigint"
)
_RSI_STATE_SCHEMA = "days array<bigint>, cents array<bigint>, seq bigint"


def streaming_rsi(order_stream):
    """B212-stream: Wilder's RSI as keyed streaming state, per priority
    series. Like the B203 twin, the naive online form (update (ag, al)
    from each arriving record) breaks under late data — a late order
    changes a PAST day's revenue and therefore every delta after it — so
    the honest streaming form keeps the per-day integer series itself
    (calendar-bounded state, the B131s/B190s argument) and RE-FOLDS the
    exact B212 recurrence per micro-batch: same milli-cent lattice, same
    α = 1/{_RSI_N} truncating steps, same init-by-copy sentinel, so the
    final emission equals the batch operator exactly (division-free
    integer compare in the parity test; rsi_ppm is itself an exact
    integer).

    Input columns: grp (priority), day_us (epoch µs of the truncated
    day), cents.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            days, cents, seq = state.get
            acc = dict(zip((int(d) for d in days), (int(c) for c in cents)))
        else:
            acc = {}
            seq = 0
        for pdf in pdfs:
            for day_us, c in zip(pdf["day_us"], pdf["cents"]):
                d = int(day_us) // 86_400_000_000
                acc[d] = acc.get(d, 0) + int(c)
        seq += 1
        days_sorted = sorted(acc)
        state.update((days_sorted, [acc[d] for d in days_sorted], seq))
        ys = [acc[d] for d in days_sorted]
        rows: dict[str, list] = {k: [] for k in (
            "n_days", "n_up", "n_down", "ag", "al", "rsi")}
        if len(ys) >= 2:
            prev, ag, al, up, down = ys[0], -1, -1, 0, 0
            for y in ys[1:]:
                g = max(y - prev, 0)
                ls = max(prev - y, 0)
                ag = (
                    1000 * g
                    if ag < 0
                    else _trunc_div((_RSI_N - 1) * ag + 1000 * g, _RSI_N)
                )
                al = (
                    1000 * ls
                    if al < 0
                    else _trunc_div((_RSI_N - 1) * al + 1000 * ls, _RSI_N)
                )
                up += 1 if y > prev else 0
                down += 1 if y < prev else 0
                prev = y
            rows["n_days"].append(len(ys))
            rows["n_up"].append(up)
            rows["n_down"].append(down)
            rows["ag"].append(ag)
            rows["al"].append(al)
            rows["rsi"].append(
                _trunc_div(1_000_000 * ag, ag + al) if ag + al > 0 else None
            )
        n = len(rows["n_days"])
        yield pd.DataFrame(
            {
                "grp": [key[0]] * n,
                "n_days": pd.Series(rows["n_days"], dtype="int64"),
                "n_up": pd.Series(rows["n_up"], dtype="int64"),
                "n_down": pd.Series(rows["n_down"], dtype="int64"),
                "avg_gain_milli": pd.Series(rows["ag"], dtype="int64"),
                "avg_loss_milli": pd.Series(rows["al"], dtype="int64"),
                "rsi_ppm": pd.Series(rows["rsi"], dtype="object"),
                "seq": pd.Series([seq] * n, dtype="int64"),
            }
        )

    return order_stream.groupBy("grp").applyInPandasWithState(
        fold,
        outputStructType=_RSI_OUT_SCHEMA,
        stateStructType=_RSI_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- B213 twin: MACD crossover ---------------------------------------------------

_MACD_FAST = 12  # must match operators/timeseries._MACD_FAST/_SLOW/_SIG
_MACD_SLOW = 26
_MACD_SIG = 9
_MACD_OUT_SCHEMA = (
    "grp string, n_days bigint, macd_cents bigint, signal_cents bigint, "
    "hist_cents bigint, n_cross_up bigint, n_cross_down bigint, "
    "first_cross_d bigint, seq bigint"
)
_MACD_STATE_SCHEMA = "days array<bigint>, cents array<bigint>, seq bigint"


def streaming_macd(order_stream):
    """B213-stream: MACD as keyed streaming state, per priority series —
    the same late-data argument as the B212 twin (a late order changes a
    PAST day's revenue and therefore every EWMA step after it), so the
    honest streaming form keeps the per-day integer series
    (calendar-bounded state) and RE-FOLDS the exact B213 recurrence per
    micro-batch: same cents lattice, same truncating
    1/{_MACD_FAST}-1/{_MACD_SLOW}-1/{_MACD_SIG} steps, same init-by-copy,
    so the final emission equals the batch operator exactly
    (division-free integer compare in the parity test).

    Input columns: grp (priority), day_us (epoch µs of the truncated
    day), cents.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            days, cents, seq = state.get
            acc = dict(zip((int(d) for d in days), (int(c) for c in cents)))
        else:
            acc = {}
            seq = 0
        for pdf in pdfs:
            for day_us, c in zip(pdf["day_us"], pdf["cents"]):
                d = int(day_us) // 86_400_000_000
                acc[d] = acc.get(d, 0) + int(c)
        seq += 1
        days_sorted = sorted(acc)
        state.update((days_sorted, [acc[d] for d in days_sorted], seq))
        rows: dict[str, list] = {k: [] for k in (
            "n_days", "macd", "sig", "hist", "up", "down", "fcd")}
        if len(days_sorted) >= 2:
            y0 = acc[days_sorted[0]]
            f, s, sig, up, down, fcd = y0, y0, 0, 0, 0, None
            for d in days_sorted[1:]:
                y = acc[d]
                om, osig = f - s, sig
                f = f + _trunc_div(y - f, _MACD_FAST)
                s = s + _trunc_div(y - s, _MACD_SLOW)
                nm = f - s
                sig = sig + _trunc_div(nm - sig, _MACD_SIG)
                if nm > sig and om <= osig:
                    up += 1
                    if fcd is None:
                        fcd = d
                elif nm < sig and om >= osig:
                    down += 1
            rows["n_days"].append(len(days_sorted))
            rows["macd"].append(f - s)
            rows["sig"].append(sig)
            rows["hist"].append(f - s - sig)
            rows["up"].append(up)
            rows["down"].append(down)
            rows["fcd"].append(fcd)
        n = len(rows["n_days"])
        yield pd.DataFrame(
            {
                "grp": [key[0]] * n,
                "n_days": pd.Series(rows["n_days"], dtype="int64"),
                "macd_cents": pd.Series(rows["macd"], dtype="int64"),
                "signal_cents": pd.Series(rows["sig"], dtype="int64"),
                "hist_cents": pd.Series(rows["hist"], dtype="int64"),
                "n_cross_up": pd.Series(rows["up"], dtype="int64"),
                "n_cross_down": pd.Series(rows["down"], dtype="int64"),
                "first_cross_d": pd.Series(rows["fcd"], dtype="object"),
                "seq": pd.Series([seq] * n, dtype="int64"),
            }
        )

    return order_stream.groupBy("grp").applyInPandasWithState(
        fold,
        outputStructType=_MACD_OUT_SCHEMA,
        stateStructType=_MACD_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- B214s: streaming ATR twin (round 14) -------------------------------------

_ATR_OUT_SCHEMA = (
    "grp string, n_days bigint, close_cents bigint, max_tr_cents bigint,"
    " atr_milli bigint, natr_ppm bigint, seq bigint"
)
_ATR_STATE_SCHEMA = (
    "days array<bigint>, hs array<bigint>, ls array<bigint>,"
    " cs array<bigint>, cts array<bigint>, cid array<bigint>, seq bigint"
)


def streaming_atr(event_stream):
    """B214-stream: Wilder's ATR as keyed streaming state, per event-type
    series — the B212s/B213s late-data argument applies twice over: a
    late event can change a PAST day's high/low AND displace its close
    (the bar's last value in (ts, event_id) order), so the honest
    streaming form keeps the per-day BAR state itself — (h, l, c) plus
    the (ts, event_id) key the close was elected under, calendar-bounded
    — and RE-FOLDS the exact B214 recurrence per micro-batch: same
    milli-cent lattice, same truncating 1/n steps (α imported from the
    batch operator so the smoothing window cannot drift), same
    init-by-copy at bar 1, so the final emission equals the batch
    operator exactly (division-free integer compare in the parity test).

    Input columns: grp (event_type), ts_us (epoch µs), cents, event_id.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.timeseries import _ATR_N

    day_us = 86_400_000_000

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            days, hs, ls, cs, cts, cid, seq = state.get
            acc = {
                int(d): [int(h), int(lo), int(c), int(t), int(i)]
                for d, h, lo, c, t, i in zip(days, hs, ls, cs, cts, cid)
            }
        else:
            acc = {}
            seq = 0
        # Vectorized batch fold (round 14, guide §4.2): this twin keys on
        # event_type, so one key sees ~|events|/|types| rows per drain and
        # the old per-row Python loop dominated the twin's wall time. One
        # numpy lexsort by (day, ts, event_id) + day-boundary scan reduces
        # each batch to per-day segments; the per-DAY merge loop is
        # calendar-bounded like the state itself. Identical fold: high =
        # segment max, low = segment min, close = the (ts, event_id)-max
        # row's cents — exactly what the row loop elected.
        import numpy as np

        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            ts_a = pdf["ts_us"].to_numpy(dtype="int64")
            c_a = pdf["cents"].to_numpy(dtype="int64")
            e_a = pdf["event_id"].to_numpy(dtype="int64")
            d_a = ts_a // day_us
            order = np.lexsort((e_a, ts_a, d_a))
            ts_a, c_a, e_a, d_a = (
                ts_a[order],
                c_a[order],
                e_a[order],
                d_a[order],
            )
            starts = np.flatnonzero(
                np.r_[True, d_a[1:] != d_a[:-1]]
            )
            ends = np.r_[starts[1:], len(d_a)] - 1
            for s_i, e_i in zip(starts, ends):
                d = int(d_a[s_i])
                seg = c_a[s_i : e_i + 1]
                hi, lo = int(seg.max()), int(seg.min())
                c, t, i = int(c_a[e_i]), int(ts_a[e_i]), int(e_a[e_i])
                bar = acc.get(d)
                if bar is None:
                    acc[d] = [hi, lo, c, t, i]
                else:
                    bar[0] = max(bar[0], hi)
                    bar[1] = min(bar[1], lo)
                    if (t, i) > (bar[3], bar[4]):
                        bar[2], bar[3], bar[4] = c, t, i
        seq += 1
        days_sorted = sorted(acc)
        state.update(
            (
                days_sorted,
                [acc[d][0] for d in days_sorted],
                [acc[d][1] for d in days_sorted],
                [acc[d][2] for d in days_sorted],
                [acc[d][3] for d in days_sorted],
                [acc[d][4] for d in days_sorted],
                seq,
            )
        )
        rows = []
        if len(days_sorted) >= 2:
            h1, l1, c1 = acc[days_sorted[0]][:3]
            pc, atr, mx = c1, 1000 * (h1 - l1), h1 - l1
            for d in days_sorted[1:]:
                h, lo, c = acc[d][:3]
                tr = max(h - lo, abs(h - pc), abs(lo - pc))
                atr = _trunc_div((_ATR_N - 1) * atr + 1000 * tr, _ATR_N)
                mx = max(mx, tr)
                pc = c
            rows.append(
                (
                    len(days_sorted),
                    pc,
                    mx,
                    atr,
                    (1000 * atr) // pc if pc > 0 else None,
                )
            )
        n = len(rows)
        yield pd.DataFrame(
            {
                "grp": [key[0]] * n,
                "n_days": pd.Series(
                    [r[0] for r in rows], dtype="int64"
                ),
                "close_cents": pd.Series(
                    [r[1] for r in rows], dtype="int64"
                ),
                "max_tr_cents": pd.Series(
                    [r[2] for r in rows], dtype="int64"
                ),
                "atr_milli": pd.Series(
                    [r[3] for r in rows], dtype="int64"
                ),
                "natr_ppm": pd.Series(
                    [r[4] for r in rows], dtype="object"
                ),
                "seq": pd.Series([seq] * n, dtype="int64"),
            }
        )

    return event_stream.groupBy("grp").applyInPandasWithState(
        fold,
        outputStructType=_ATR_OUT_SCHEMA,
        stateStructType=_ATR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
