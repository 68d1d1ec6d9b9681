"""Replay: r8 chunked rewrites of the events per-type scans at 20M rows.

Each of the four rewritten entries (cusum, equidepth ntile, winsorize,
interarrival) previously ran its sequential/order-statistic windows
with ``PARTITION BY event_type`` — 5 tasks for the whole corpus. This
tool times the REWRITTEN entry functions (imported, not copied)
against inline naive-window twins on the shared 20M-event corpus,
with full materialization and a row-count + value-hash equivalence
check per pair.

Usage: PYTHONPATH=/root/repo python tools/replay_events_chunked.py
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from tools import replay_corpus as rc
from warpdb_spark.session import get_spark

OUT = "/tmp/replay_r8_chunked_lead"  # shares the chunked-lead corpus


def _summ(df):
    """Order-free count + hash over all columns (forces full work)."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(*[F.col(c).cast("string") for c in df.columns]) % 1_000_003
        ).alias("h"),
    ).first()
    return row["n"], row["h"]


def naive_cusum(spark, sf_dir):
    from warpdb_spark.inventory.scale_ops import _t

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts", "value")
    stats = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_pop("value"), 6).alias("sigma"),
    )
    d = ev.join(F.broadcast(stats), "event_type").withColumn(
        "__d",
        F.round((F.col("value") - F.col("mu") - F.col("sigma") / 2) * 1e6, 0).cast(
            "decimal(38,0)"
        ),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("__S", F.sum("__d").over(w)).withColumn(
        "__Smin", F.least(F.min("__S").over(w), F.lit(0).cast("decimal(38,0)"))
    )
    ci = F.col("__S") - F.col("__Smin")
    return d.select(
        "event_id",
        "event_type",
        F.round(ci / 1e6, 6).alias("cusum"),
        (ci > F.round(4 * F.col("sigma") * 1e6, 0).cast("decimal(38,0)")).alias(
            "is_alarm"
        ),
    )


def naive_equidepth(spark, sf_dir):
    from warpdb_spark.inventory.scale_ops import _t

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("event_type", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


def naive_winsorize_cuts(spark, sf_dir):
    from warpdb_spark.inventory.scale_ops import _t

    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    wr = Window.partitionBy("event_type").orderBy(
        F.asc_nulls_last("value"), "event_id"
    )
    wc = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return r.groupBy("event_type").agg(
        F.min(F.when(F.col("rn") >= F.ceil(F.col("n") * 0.05), F.col("value"))).alias("lo"),
        F.min(F.when(F.col("rn") >= F.ceil(F.col("n") * 0.95), F.col("value"))).alias("hi"),
    )


def naive_interarrival(spark, sf_dir):
    from warpdb_spark.inventory.scale_ops import _t

    ev = _t(spark, sf_dir, "events")
    esec = F.col("ts").cast("long")
    wo = Window.partitionBy("event_type").orderBy(esec, "event_id")
    g = ev.select(
        "event_type", (esec - F.lag(esec).over(wo)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("gap")
    wc = Window.partitionBy("event_type")
    r = g.select(
        "event_type", "gap",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return r.groupBy("event_type").agg(
        F.max("n").alias("n_gaps"),
        F.round(F.sum("gap") / F.max("n"), 6).alias("mean_gap_s"),
        F.min(F.when(F.col("rn") >= F.ceil(F.col("n") * 0.5), F.col("gap"))).alias("p50_gap_s"),
        F.min(F.when(F.col("rn") >= F.ceil(F.col("n") * 0.9), F.col("gap"))).alias("p90_gap_s"),
        F.max("gap").alias("max_gap_s"),
    )


def naive_gini(spark, sf_dir):
    from pyspark.sql import functions as F

    from warpdb_spark.inventory.scale_ops import _t

    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    w = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    r = o.select("o_orderpriority", "o_orderkey", cents.alias("cents")).withColumn(
        "i", F.row_number().over(w)
    )
    g = r.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("sx"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents")).alias("six"),
    )
    gini = (
        2.0 * F.col("six").cast("double")
        / (F.col("n_orders").cast("double") * F.col("sx").cast("double"))
        - (F.col("n_orders") + 1) / F.col("n_orders")
    )
    return g.select(
        "o_orderpriority",
        "n_orders",
        F.round(F.col("sx") / 100.0, 2).alias("total_value"),
        F.round(gini, 6).alias("gini"),
    )


def naive_weighted_median(spark, sf_dir):
    from warpdb_spark.inventory.scale_ops import _t

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "event_id", "value", (F.col("user_id") % 5 + 1).alias("wt")
    )
    wseq = (
        Window.partitionBy("event_type")
        .orderBy(F.asc_nulls_last("value"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    d = ev.withColumn("cumw", F.sum("wt").over(wseq)).withColumn(
        "totw", F.sum("wt").over(wall)
    )
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("totw").alias("total_weight"),
        F.min(F.when(2 * F.col("cumw") >= F.col("totw"), F.col("value"))).alias(
            "weighted_median"
        ),
    )


def naive_distribution(spark, sf_dir):
    from warpdb_spark.inventory.scale_ops import _t

    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    w = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    r = (
        o.select("o_orderpriority", "o_orderkey", cents.alias("cents"))
        .withColumn("pr", F.percent_rank().over(w))
        .withColumn("cd", F.cume_dist().over(w))
        .withColumn("decile", F.ntile(10).over(w))
    )
    return r.filter(F.col("o_orderkey") % 37 == 0).select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.col("cents") / 100.0, 2).alias("order_value"),
        F.round("pr", 6).alias("pct_rank"),
        F.round("cd", 6).alias("cume_dist"),
        "decile",
    )


def chunked_winsorize_cuts(spark, sf_dir):
    """Just the rank-selection pass of the rewritten winsorize (the
    clamp/report stage is identical in both variants)."""
    from warpdb_spark.inventory.scale_ops import _t
    from warpdb_spark.operators.sequence import grouped_global_rank

    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    vchunk = (
        F.when(F.col("value").isNull(), F.lit(1 << 62))
        .otherwise(F.floor("value"))
        .cast("long")
    )
    r = grouped_global_rank(
        ev, "event_type", [F.asc_nulls_last("value"), "event_id"], vchunk,
        rank_col="rn", n_col="n",
    )
    return r.groupBy("event_type").agg(
        F.min(F.when(F.col("rn") >= F.ceil(F.col("n") * 0.05), F.col("value"))).alias("lo"),
        F.min(F.when(F.col("rn") >= F.ceil(F.col("n") * 0.95), F.col("value"))).alias("hi"),
    )


def main():
    from warpdb_spark.inventory.analytics_ext import events_equidepth_quantiles
    from warpdb_spark.inventory.curation_ext import (
        agg_gini_by_segment,
        window_distribution_functions,
    )
    from warpdb_spark.inventory.pipeline_ops import events_cusum_changepoints
    from warpdb_spark.inventory.scale_ops import (
        agg_weighted_median,
        events_interarrival_profile,
    )

    spark = get_spark("replay-events-chunked")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT, exist_ok=True)
    if not os.path.exists(f"{OUT}/events.parquet/_SUCCESS"):
        t0 = time.time()
        rc.build_events(spark, OUT)
        print(f"corpus build: {time.time()-t0:.1f}s")
    if not os.path.exists(f"{OUT}/orders.parquet/_SUCCESS"):
        t0 = time.time()
        rc.build_orders(spark, OUT)
        print(f"orders build: {time.time()-t0:.1f}s")

    pairs = [
        ("cusum", naive_cusum, events_cusum_changepoints),
        ("equidepth_ntile", naive_equidepth, events_equidepth_quantiles),
        ("winsorize_cuts", naive_winsorize_cuts, chunked_winsorize_cuts),
        ("interarrival", naive_interarrival, events_interarrival_profile),
        # r8 second wave: the three formerly-documented diagnostics
        ("gini_by_segment", naive_gini, agg_gini_by_segment),
        ("weighted_median", naive_weighted_median, agg_weighted_median),
        ("distribution_fns", naive_distribution, window_distribution_functions),
    ]
    # min-of-2 interleaved: one noisy run cannot pick the winner
    best = {}
    for p in range(2):
        for name, naive, chunked in pairs:
            for tag, fn in (("naive", naive), ("chunked", chunked)):
                t0 = time.time()
                n, h = _summ(fn(spark, OUT))
                dt = time.time() - t0
                key = (name, tag)
                if key not in best or dt < best[key][2]:
                    best[key] = (n, h, dt)
                print(f"pass {p+1} {name}/{tag}: n={n} h={h} {dt:.1f}s")

    print()
    for name, _, _ in pairs:
        n1, h1, t1 = best[(name, "naive")]
        n2, h2, t2 = best[(name, "chunked")]
        same = (n1, h1) == (n2, h2)
        print(
            f"{name}: identical={same} naive={t1:.1f}s chunked={t2:.1f}s "
            f"speedup={t1 / t2:.2f}x"
        )
        assert same, f"{name}: results diverge"


if __name__ == "__main__":
    main()
