"""Streaming-twin bench harness (VERDICT r11 item #6).

The 19 stateful streaming twins are parity-pinned in tests/test_streaming.py
but, until round 12, only the batch registry was TIMED — a state-store
regression (e.g. a per-row Python fold slipping from vectorized to
quadratic) would show up as a hunch, not a number. This module gives
bench.py a deterministic availableNow wall-time per twin:

- a handful of SHARED staging datasets are written once from the bench
  sf_dir (prepared-columns convention, same shapes as the parity tests);
- each twin runs `readStream → twin → writeStream(noop, availableNow)` and
  the drain wall-time lands in BENCH_DETAIL.json's `streaming` block.

These are throughput smokes, not parity checks (the tests own parity):
arrival order across the staged files is whatever the file source picks,
which the fold semantics tolerate and the timing doesn't care about.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..tables import table

# --- staging datasets (built once per bench run) -----------------------------


def _write(df, out_dir: str, n_files: int = 4) -> None:
    df.repartition(n_files).write.mode("overwrite").parquet(out_dir)


def _stage_events(spark, sf_dir, root):
    out = os.path.join(root, "events")
    _write(table(spark, sf_dir, "events"), out)
    return out


def _stage_docs(spark, sf_dir, root):
    out = os.path.join(root, "docs")
    _write(table(spark, sf_dir, "documents"), out)
    return out


def _stage_order_days_nation(spark, sf_dir, root):
    out = os.path.join(root, "order_days_nation")
    df = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
        )
        .join(
            table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            table(spark, sf_dir, "nation").select("n_nationkey", "n_name"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            F.expr("unix_micros(date_trunc('day', o_orderdate))").alias("day_us"),
            F.expr("CAST(round(100 * o_totalprice) AS BIGINT)").alias("cents"),
        )
    )
    _write(df, out)
    return out


def _stage_order_days(spark, sf_dir, root):
    out = os.path.join(root, "order_days")
    df = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .select(
            F.expr("unix_micros(date_trunc('day', o_orderdate))").alias("day_us"),
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    _write(df, out)
    return out


def _stage_spans(spark, sf_dir, root):
    out = os.path.join(root, "spans")
    df = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .join(
            table(spark, sf_dir, "lineitem").where(
                F.col("l_shipdate").isNotNull()
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("s_day"),
            F.datediff(
                F.col("first_ship").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("e_day"),
        )
    )
    _write(df, out)
    return out


def _stage_customer(spark, sf_dir, root):
    out = os.path.join(root, "customer")
    _write(
        table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey", "c_acctbal"
        ),
        out,
    )
    return out


def _stage_hotkey(spark, sf_dir, root):
    out = os.path.join(root, "hotkey")
    df = table(spark, sf_dir, "events").select(
        (
            (
                F.instr(
                    F.lit("0123456789abcdef"),
                    F.substring(
                        F.md5(F.encode(F.col("user_id").cast("string"), "UTF-8")),
                        32,
                        1,
                    ),
                )
                - 1
            )
            % 16
        )
        .cast("bigint")
        .alias("shard"),
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    _write(df, out)
    return out


def _stage_order_days_prio(spark, sf_dir, root):
    out = os.path.join(root, "order_days_prio")
    df = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").isNotNull()
            & F.col("o_totalprice").isNotNull()
            & F.col("o_orderpriority").isNotNull()
        )
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.expr("unix_micros(date_trunc('day', o_orderdate))").alias(
                "day_us"
            ),
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias(
                "cents"
            ),
        )
    )
    _write(df, out)
    return out


def _stage_lineitem_cust(spark, sf_dir, root):
    out = os.path.join(root, "lineitem_cust")
    df = (
        table(spark, sf_dir, "orders")
        .where("o_orderdate IS NOT NULL AND o_custkey % 50 = 0")
        .join(
            table(spark, sf_dir, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_partkey").alias("part"),
            F.unix_micros("o_orderdate").alias("odate_us"),
            F.col("o_orderkey").alias("okey"),
        )
    )
    _write(df, out)
    return out


_STAGERS = {
    "events": _stage_events,
    "docs": _stage_docs,
    "order_days_nation": _stage_order_days_nation,
    "order_days": _stage_order_days,
    "order_days_prio": _stage_order_days_prio,
    "spans": _stage_spans,
    "customer": _stage_customer,
    "hotkey": _stage_hotkey,
    "lineitem_cust": _stage_lineitem_cust,
}


# --- per-twin readers (staged dir -> twin output stream) ----------------------


def _read(spark, staged: str):
    return spark.readStream.schema(
        spark.read.parquet(staged).schema
    ).parquet(staged)


def _ev_tw(spark, staged):
    from .timeseries import streaming_time_weighted

    src = _read(spark, staged).where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    return streaming_time_weighted(
        src.select(
            "event_type",
            F.expr("unix_micros(ts)").alias("us"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
            "event_id",
        )
    )


def _ev_fasof(spark, staged):
    from .timeseries import streaming_forward_asof

    src = _read(spark, staged).where(
        F.col("event_type").isin("click", "purchase")
    )
    return streaming_forward_asof(
        src.select(
            "user_id",
            F.expr("unix_micros(ts)").alias("us"),
            "event_id",
            F.when(F.col("event_type") == "purchase", F.lit(1))
            .otherwise(0)
            .alias("is_p"),
        )
    )


def _ev_slope(spark, staged):
    from .timeseries import streaming_rolling_slope

    src = _read(spark, staged).where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    return streaming_rolling_slope(
        src.select(
            "event_type",
            F.expr("unix_micros(ts)").alias("us"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
            "event_id",
        )
    )


def _ev_bursts(spark, staged):
    from .timeseries import streaming_burst_episodes

    src = _read(spark, staged).where(F.col("ts").isNotNull())
    return streaming_burst_episodes(
        src.select("event_type", F.expr("unix_micros(ts)").alias("us"))
    )


def _ev_bounded(spark, staged):
    from .stateful import streaming_bounded_contrib

    src = _read(spark, staged).where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    return streaming_bounded_contrib(
        src.select(
            "user_id",
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        ),
        cap=3,
    )


def _ev_quant(spark, staged):
    from .stateful import streaming_quantile_octaves

    return streaming_quantile_octaves(
        _read(spark, staged).select("event_type", "value")
    )


def _doc_mg(spark, staged):
    from .stateful import streaming_misra_gries

    return streaming_misra_gries(_read(spark, staged).select("lang", "text"))


def _doc_cms(spark, staged):
    from .stateful import streaming_count_min

    return streaming_count_min(
        _read(spark, staged).select(F.lit("all").alias("fold_key"), "text")
    )


def _od_cusum(spark, staged):
    from .timeseries import streaming_cusum

    return streaming_cusum(_read(spark, staged))


def _od_drawdown(spark, staged):
    from .timeseries import streaming_drawdown

    return streaming_drawdown(_read(spark, staged))


def _od_rollcorr(spark, staged):
    from .timeseries import streaming_rolling_corr

    return streaming_rolling_corr(_read(spark, staged))


def _od_seasonal(spark, staged):
    from .timeseries import streaming_seasonal_forecast

    return streaming_seasonal_forecast(_read(spark, staged))


def _od_bollinger(spark, staged):
    from .timeseries import streaming_bollinger

    return streaming_bollinger(_read(spark, staged))


def _od_holt(spark, staged):
    from .timeseries import streaming_holt_linear

    return streaming_holt_linear(_read(spark, staged))


def _odp_rsi(spark, staged):
    from .timeseries import streaming_rsi

    return streaming_rsi(_read(spark, staged))


def _odp_macd(spark, staged):
    from .timeseries import streaming_macd

    return streaming_macd(_read(spark, staged))


def _ev_atr(spark, staged):
    from .timeseries import streaming_atr

    return streaming_atr(
        _read(spark, staged)
        .where(
            "ts IS NOT NULL AND value IS NOT NULL"
            " AND event_type IS NOT NULL"
        )
        .selectExpr(
            "event_type AS grp",
            "unix_micros(ts) AS ts_us",
            "CAST(floor(value * 100) AS BIGINT) AS cents",
            "event_id",
        )
    )


def _sp_littles(spark, staged):
    from .timeseries import streaming_littles_law

    return streaming_littles_law(_read(spark, staged))


def _cu_cells(spark, staged):
    from .geo import streaming_cell_density

    return streaming_cell_density(_read(spark, staged))


def _hk_monitor(spark, staged):
    from .stateful import streaming_hotkey_monitor

    return streaming_hotkey_monitor(
        _read(spark, staged).select("shard", "user_id")
    )


def _lag_monitor(spark, staged):
    from .stateful import streaming_lag_monitor

    return streaming_lag_monitor(
        _read(spark, staged).select("shard", "us", "event_id")
    )


def _li_rdistinct(spark, staged):
    from .stateful import streaming_running_distinct

    return streaming_running_distinct(_read(spark, staged))


# twin name -> (staging dataset key, builder)
TWINS = {
    "s_time_weighted": ("events", _ev_tw),
    "s_forward_asof": ("events", _ev_fasof),
    "s_rolling_slope": ("events", _ev_slope),
    "s_burst_episodes": ("events", _ev_bursts),
    "s_bounded_contrib": ("events", _ev_bounded),
    "s_quantile_octaves": ("events", _ev_quant),
    "s_misra_gries": ("docs", _doc_mg),
    "s_count_min": ("docs", _doc_cms),
    "s_cusum": ("order_days_nation", _od_cusum),
    "s_drawdown": ("order_days", _od_drawdown),
    "s_rolling_corr": ("order_days", _od_rollcorr),
    "s_seasonal_forecast": ("order_days", _od_seasonal),
    "s_bollinger": ("order_days", _od_bollinger),
    "s_holt_linear": ("order_days", _od_holt),
    "s_rsi": ("order_days_prio", _odp_rsi),
    "s_macd": ("order_days_prio", _odp_macd),
    "s_atr": ("events", _ev_atr),
    "s_littles_law": ("spans", _sp_littles),
    "s_cell_density": ("customer", _cu_cells),
    "s_hotkey_monitor": ("hotkey", _hk_monitor),
    "s_lag_monitor": ("hotkey", _lag_monitor),
    "s_running_distinct": ("lineitem_cust", _li_rdistinct),
}

# complete-mode aggregations (no watermark): everything else runs update
_COMPLETE_MODE = {"s_cell_density"}


def run_streaming_bench(spark, sf_dir: str, work_root: str) -> dict[str, float]:
    """Stage each needed dataset once, then time each twin's availableNow
    drain to the noop sink. Returns {twin: seconds} (staging shown as its
    own `_stage_*` rows, same convention as the batch `_shared_build_*`)."""
    import time

    timings: dict[str, float] = {}
    staged: dict[str, str] = {}
    for key in sorted({k for k, _ in TWINS.values()}):
        t0 = time.perf_counter()
        staged[key] = _STAGERS[key](spark, sf_dir, work_root)
        timings[f"_stage_{key}"] = round(time.perf_counter() - t0, 3)
    for name in sorted(TWINS):
        key, build = TWINS[name]
        t0 = time.perf_counter()
        q = (
            build(spark, staged[key])
            .writeStream.format("noop")
            .outputMode("complete" if name in _COMPLETE_MODE else "update")
            .option("checkpointLocation", os.path.join(work_root, f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        if q.isActive:  # pragma: no cover - hung stream
            q.stop()
            raise RuntimeError(f"streaming twin {name} did not drain in 600s")
        timings[name] = round(time.perf_counter() - t0, 3)
    return timings
