"""Optimizer-behavior parity (SURVEY §4): what the reference's stub
optimizer *intended* (constant-condition elimination, stats, pushdown —
src/optimizer.cpp:13-61, include/csv_loader.hpp:22-37) happens for real
via Catalyst. These tests pin that the engine's plans actually get the
rewrites."""

import pytest
from pyspark.sql import functions as F

from warpdb_spark.api import WarpDB


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestConstantConditions:
    def test_always_false_filter_eliminates_scan(self, spark, fixture_csv):
        # "Filter eliminates all rows" — the rewrite the reference's
        # analyze_condition stub never fires (src/optimizer.cpp:21-61)
        db = WarpDB(fixture_csv, spark=spark, table_name="test")
        df = db.query("price WHERE 1 > 2")
        assert "LocalRelation <empty>" in _optimized(df)
        assert df.count() == 0

    def test_always_true_condition_dropped(self, spark, fixture_csv):
        db = WarpDB(fixture_csv, spark=spark, table_name="test")
        df = db.query("price WHERE 1 < 2")
        # the cached CSV snapshot prints its scan (DataFilters: [], ...)
        # after InMemoryRelation; only operators above it are the query's
        assert "Filter" not in _optimized(df).split("InMemoryRelation")[0]
        assert df.count() == 4


class TestPushdown:
    def test_dialect_filter_reaches_parquet_scan(self, spark, sf_dir):
        db = WarpDB(f"{sf_dir}/lineitem.parquet", spark=spark, table_name="lineitem")
        df = db.query("l_extendedprice * l_quantity WHERE l_extendedprice > 100")
        plan = _plan(df)
        assert "PushedFilters" in plan and "GreaterThan(l_extendedprice,100" in plan

    def test_column_pruning_through_dialect(self, spark, sf_dir):
        db = WarpDB(f"{sf_dir}/lineitem.parquet", spark=spark, table_name="lineitem")
        df = db.query_sql("SELECT l_orderkey FROM lineitem")
        plan = _plan(df)
        # 11-column table, 1-column projection: the scan must read 1
        assert "ReadSchema: struct<l_orderkey:bigint>" in plan

    def test_event_time_literal_pushes_through_ts_cast(self, spark, sf_dir):
        """A TIMESTAMP-literal filter must reach the parquet scan even
        though the reader casts the NTZ event-time column at load — at
        100 TB this is the difference between pruning row groups and
        scanning the full table. Column pruning must survive too."""
        from warpdb_spark.inventory.core_sql import _db

        db = _db(spark, sf_dir, "events")
        df = db.query_sql(
            "SELECT event_id AS eid FROM events "
            "WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'"
        )
        plan = _plan(df)
        assert "PushedFilters" in plan and "GreaterThanOrEqual(ts," in plan
        assert "ReadSchema: struct<event_id:bigint,ts:timestamp" in plan

    def test_dialect_q6_pushes_all_filters(self, spark, sf_dir):
        """TPC-H q6 through the dialect: all four predicates (two typed
        timestamp bounds, BETWEEN, <) must reach the parquet scan, and
        the scan must read exactly q6's four columns."""
        from warpdb_spark.inventory.core_sql import dialect_tpch_q6

        # the default 100-char metadata cap elides the 5-filter
        # PushedFilters list in the plan string; restore the PRIOR value
        # after — the session is shared with every other test
        prior = spark.conf.get("spark.sql.maxMetadataStringLength")
        spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
        try:
            plan = _plan(dialect_tpch_q6(spark, sf_dir))
        finally:
            spark.conf.set("spark.sql.maxMetadataStringLength", prior)
        for pushed in (
            "GreaterThanOrEqual(l_shipdate",
            "LessThan(l_shipdate",
            "GreaterThanOrEqual(l_discount,0.05)",
            "LessThanOrEqual(l_discount,0.07)",
            "LessThan(l_quantity,24",
        ):
            assert pushed in plan, pushed
        assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double," in plan

    def test_topk_uses_take_ordered(self, spark, sf_dir):
        db = WarpDB(f"{sf_dir}/lineitem.parquet", spark=spark, table_name="lineitem")
        df = db.query_sql(
            "SELECT l_extendedprice FROM lineitem ORDER BY l_extendedprice DESC LIMIT 5"
        )
        assert "TakeOrderedAndProject" in _plan(df)


class TestTableStats:
    def test_stats_computed(self, spark, fixture_csv):
        db = WarpDB(fixture_csv, spark=spark, table_name="test")
        stats = {r.column: r for r in db.table_stats().collect()}
        assert stats["price"].min == pytest.approx(10.5)
        assert stats["price"].max == pytest.approx(30.0)
        assert stats["price"].null_count == 0
        assert stats["quantity"].max == pytest.approx(5.0)


class TestSubqueryRewritePlans:
    """The builder's subquery rewrites must produce join-based plans,
    never per-row probes or driver collects."""

    @pytest.fixture(scope="class")
    def db(self, spark, sf_dir):
        db = WarpDB(f"{sf_dir}/orders.parquet", spark=spark, table_name="orders")
        db.attach("lineitem", spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
        return db

    def test_scalar_subquery_is_broadcast_cross_join(self, db):
        df = db.query_sql(
            "SELECT o_orderkey AS ok FROM orders "
            "WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)"
        )
        plan = _plan(df)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    def test_correlated_exists_is_semi_join(self, db):
        df = db.query_sql(
            "SELECT o_orderkey AS ok FROM orders WHERE EXISTS ("
            "SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)"
        )
        assert "LeftSemi" in _plan(df)

    def test_not_exists_is_anti_join(self, db):
        df = db.query_sql(
            "SELECT o_orderkey AS ok FROM orders WHERE NOT EXISTS ("
            "SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)"
        )
        assert "LeftAnti" in _plan(df)


class TestIntervalJoinPlan:
    def test_equality_keys_make_hash_join(self, spark, sf_dir):
        """The time bound must NOT force a nested-loop cross product —
        the key equality plans a hash/sort-merge join."""
        from warpdb_spark.sources.readers import ns_to_timestamp
        from warpdb_spark.streaming.windows import interval_join

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        events = ns_to_timestamp(
            spark.read.parquet(f"{sf_dir}/events.parquet"), "ts"
        )
        clicks = events.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("cid"), "user_id", "ts"
        )
        purchases = events.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("pts"), F.col("value")
        )
        plan = _plan(
            interval_join(clicks, purchases, "ts", "pts", ["user_id"])
        )
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


class TestCurationPlans:
    """The curation operators' plans have the shapes the 100 TB design
    claims: scans stay map-only where promised, the decontamination
    join broadcasts the eval side, packing shuffles exactly once."""

    def test_pii_scrub_is_shuffle_free(self, spark, sf_dir):
        from warpdb_spark.inventory.pipeline_ops import pii_scrub

        plan = _plan(pii_scrub(spark, sf_dir))
        assert "Exchange" not in plan

    def test_repetition_stats_is_shuffle_free(self, spark, sf_dir):
        from warpdb_spark.inventory.pipeline_ops import text_repetition_stats

        plan = _plan(text_repetition_stats(spark, sf_dir))
        assert "Exchange" not in plan

    def test_chunked_packing_corpus_shuffle_has_chunk_parallelism(self, spark, sf_dir):
        """r9 respell: corpus rows must shuffle on (grp, __chunk) —
        parallelism grows with the corpus despite the 8-value group key
        — and every exchange keyed by bare grp may carry only per-chunk
        AGGREGATE rows (offsets), which return via broadcast. The audit
        classifier double-checks the tiers: no raw-tier bounded window."""
        import re

        from tools.audit_window_plans import (
            low_cardinality_columns,
            window_partition_findings,
        )
        from warpdb_spark.inventory.pipeline_ops import pack_sequences_chunked

        df = pack_sequences_chunked(spark, sf_dir)
        plan = _plan(df)
        hits = list(re.finditer(r"Exchange hashpartitioning\(([^)]*)", plan))
        bare = [m for m in hits if "__chunk" not in m.group(1)]
        assert len(bare) == 1 and bare[0].group(1).startswith("grp#"), [
            m.group(1) for m in hits
        ]
        # the bare-grp exchange feeds the offsets window from the
        # per-chunk HashAggregate, never from corpus rows
        below = plan[bare[0].start() : bare[0].start() + 800]
        assert "HashAggregate" in below, below
        assert "BroadcastExchange" in plan
        f = window_partition_findings(df, low_cardinality_columns(sf_dir))
        assert not f["raw"] and f["agg_input"] == ["grp=8"], f

    def test_decontam_broadcasts_eval_side(self, spark, sf_dir):
        from warpdb_spark.inventory.pipeline_ops import decontam_eval_overlap

        plan = _plan(decontam_eval_overlap(spark, sf_dir))
        assert "BroadcastHashJoin" in plan

    def test_stratified_sample_single_shuffle(self, spark, sf_dir):
        from warpdb_spark.inventory.pipeline_ops import sample_stratified

        plan = _plan(sample_stratified(spark, sf_dir))
        assert plan.count("Exchange hashpartitioning") == 1

    def test_vocab_topk_is_take_ordered_and_broadcast(self, spark, sf_dir):
        from warpdb_spark.inventory.pipeline_ops import text_vocab_oov

        plan = _plan(text_vocab_oov(spark, sf_dir))
        # top-K vocab must be a distributed top-k, not a global sort,
        # and the vocab join must broadcast the 50-row side
        assert "TakeOrderedAndProject" in plan
        assert "BroadcastHashJoin" in plan


class TestTimeSeriesPlans:
    """Round-4 event-time analytics keep their claimed shuffle budget."""

    def test_sessionize_single_exchange(self, spark, sf_dir):
        from warpdb_spark.inventory.core_sql import events_sessionize

        # lag window, cumulative-sum window, and the session groupBy all
        # ride ONE user_id hash partitioning
        plan = _plan(events_sessionize(spark, sf_dir))
        assert plan.count("Exchange hashpartitioning") == 1

    def test_resample_locf_shuffles_events_once(self, spark, sf_dir):
        from warpdb_spark.inventory.core_sql import events_resample_locf

        plan = _plan(events_resample_locf(spark, sf_dir))
        # raw events feeds ONE persisted (event_type, bucket) aggregate;
        # every consumer — grid bounds, the type dim, the fill join, and
        # (r11) grouped_carry's local + carry-in branches — reads the
        # cache, so the executed plan touches events zero times outside
        # the InMemoryRelation; the grid fill and the span-bounded
        # carry-in frame both join via broadcast, never a sort-merge
        # join of grid-scale frames
        assert plan.count("InMemoryTableScan") >= 3
        assert "Scan parquet" not in plan.split("InMemoryRelation")[0]
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan

    def test_unpivot_is_narrow(self, spark, sf_dir):
        from warpdb_spark.inventory.core_sql import reshape_unpivot

        # melt is row-local: Expand operator, zero shuffles
        plan = _plan(reshape_unpivot(spark, sf_dir))
        assert "Expand" in plan
        assert "Exchange" not in plan


class TestDynamicPartitionPruning:
    """A partitioned fact write through write_table + a dim-filtered
    join must get a dynamicpruningexpression injected into the fact
    scan's PartitionFilters — the runtime analog of the static
    partition pruning the reference cannot do at all. At 100 TB this
    is what keeps a date-dim-filtered fact join from scanning every
    date partition."""

    def test_dim_filter_prunes_fact_partitions(self, spark, tmp_path_factory):
        from warpdb_spark.sources.writers import write_table

        base = str(tmp_path_factory.mktemp("dpp"))
        fact = spark.range(10_000).select(
            F.col("id"),
            (F.col("id") % 20).cast("int").alias("day_key"),
            (F.col("id") % 7).alias("v"),
        )
        write_table(fact, f"{base}/fact", partition_by=["day_key"])
        dim = spark.range(20).select(
            F.col("id").cast("int").alias("day_key"),
            F.when(F.col("id") < 2, "hot").otherwise("cold").alias("tier"),
        )
        write_table(dim, f"{base}/dim")

        f = spark.read.parquet(f"{base}/fact")
        d = spark.read.parquet(f"{base}/dim").filter(F.col("tier") == "hot")
        q = f.join(d, "day_key").agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        plan = _plan(q)
        assert "dynamicpruningexpression" in plan.lower(), plan
        row = q.first()
        assert row["n"] == 1000 and row["s"] == 3000


class TestRuntimeBloomFilter:
    """Runtime bloom-filter row pruning: when a big-big SortMergeJoin
    has a selectively-filtered build side, Spark can inject a
    bloom_filter_agg/might_contain pair so the probe side drops
    non-joining rows BEFORE the shuffle. At 100 TB this is the
    row-level sibling of dynamic partition pruning — the probe-side
    shuffle shrinks by the build side's selectivity. The size
    thresholds are production defaults; this test lowers them to pin
    the MECHANICS at test scale and restores every conf after."""

    def test_filtered_dim_injects_bloom_into_fact_side(self, spark, tmp_path_factory):
        base = str(tmp_path_factory.mktemp("bloom"))
        spark.range(2_000_000).select(
            F.col("id").alias("k"), (F.col("id") % 1000).alias("v")
        ).write.mode("overwrite").parquet(f"{base}/fact")
        spark.range(10_000).select(
            F.col("id").alias("k"), (F.col("id") % 10).alias("cat")
        ).write.mode("overwrite").parquet(f"{base}/dim")

        confs = {
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        }
        saved = {}
        for k, val in confs.items():
            try:
                saved[k] = spark.conf.get(k)
            except Exception:
                saved[k] = None
            spark.conf.set(k, val)
        try:
            fact = spark.read.parquet(f"{base}/fact")
            dim = spark.read.parquet(f"{base}/dim").filter(F.col("cat") == 3)
            q = fact.join(dim, "k").agg(F.sum("v").alias("s"))
            plan = _plan(q).lower()
            assert "bloom" in plan, plan[:2000]
            assert q.first()["s"] == 498000
        finally:
            for k, val in saved.items():
                if val is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, val)


class TestCusumPlanShape:
    def test_chunked_prefix_no_bare_type_corpus_sort(self, spark):
        """CUSUM after the r8 chunked-prefix rewrite: every corpus-scale
        window (the ones ordered by ts) must be partitioned by
        (event_type, __chunk) — a bare event_type partition would put
        ~20% of the corpus in one task. The killer signature is a Sort
        whose key list goes straight from event_type to ts with no
        chunk column between; the plan must contain none. The
        prefix-offset windows (ordered by __chunk) run over the
        per-chunk aggregate: their Sort keys are exactly
        [event_type, __chunk]."""
        import re

        from warpdb_spark.inventory.pipeline_ops import events_cusum_changepoints

        plan = _plan(events_cusum_changepoints(spark, "/root/testdata/sf0.001"))
        lines = plan.splitlines()
        bare_type_ts_sorts = [
            l
            for l in lines
            if re.search(r"Sort \[event_type#\d+ ASC NULLS FIRST, ts#", l)
        ]
        assert not bare_type_ts_sorts, bare_type_ts_sorts
        # corpus windows (ts-ordered): all carry __chunk in the
        # partition spec — Sloc + mloc stacked on one sort, plus the
        # summary branch's pruned Sloc recompute
        ts_windows = [
            l for l in lines if "windowspecdefinition" in l and " ts#" in l
        ]
        assert ts_windows and all("__chunk" in l for l in ts_windows), ts_windows
        # offset windows: over the per-chunk aggregate, ordered by
        # __chunk (O and P, stacked)
        off_windows = [
            l
            for l in lines
            if "windowspecdefinition" in l and "__chunk" in l and " ts#" not in l
        ]
        assert len(off_windows) == 2, off_windows
