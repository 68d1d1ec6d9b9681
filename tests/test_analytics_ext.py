"""Warehouse-maintenance / analytics extension entries
(inventory/analytics_ext.py): merge upsert, profiling, fingerprints,
correlation, running distinct count, histogram, rollup cascade.

Semantics are oracle-checked by tools/check_oracle.py; these tests pin
the SEMANTIC invariants the oracle can't see (merge precedence rules,
cascade-equals-direct composition) and the plan shapes that matter at
100 TB (shuffle counts, broadcast of the bounds row).
"""

import pytest
from pyspark.sql import functions as F

from warpdb_spark.inventory import analytics_ext as X


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestMergeUpsert:
    @pytest.mark.slow
    def test_merge_rules(self, spark, sf_dir):
        out = X.merge_upsert_orders(spark, sf_dir)
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        base_keys = {
            r[0] for r in orders.filter(F.col("o_orderkey") % 3 != 0)
            .select("o_orderkey").collect()
        }
        batch_keys = {
            r[0] for r in orders.filter((F.col("o_orderkey") % 10).isin(0, 5))
            .select("o_orderkey").collect()
        }
        rows = {r["o_orderkey"]: r for r in out.collect()}
        # result keyset = base ∪ batch, exactly once each
        assert set(rows) == base_keys | batch_keys
        assert out.count() == len(rows)
        # every batch key carries the batch's status; untouched base rows keep theirs
        for k in batch_keys:
            assert rows[k]["o_orderstatus"] == "U"
        untouched = base_keys - batch_keys
        originals = {
            r[0]: r[1]
            for r in orders.select("o_orderkey", "o_orderstatus").collect()
        }
        sample = list(untouched)[:50]
        for k in sample:
            assert rows[k]["o_orderstatus"] == originals[k]

    def test_single_join_no_extra_shuffle(self, spark, sf_dir):
        plan = _plan(X.merge_upsert_orders(spark, sf_dir))
        # one full-outer join; no nested-loop / cartesian anywhere
        assert plan.count("FullOuter") == 1
        assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


class TestProfileAndFingerprint:
    def test_profile_covers_all_columns_one_row_each(self, spark, sf_dir):
        out = X.profile_table_columns(spark, sf_dir).collect()
        assert sorted(r["col_name"] for r in out) == [
            "l_discount", "l_extendedprice", "l_quantity", "l_tax",
        ]
        n = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
        for r in out:
            assert r["n_rows"] == n
            assert r["n_nulls"] == 0
            assert 0 < r["n_distinct"] <= n
            assert r["min_v"] <= r["mean_v"] <= r["max_v"]

    def test_fingerprint_detects_single_cell_change(self, spark, sf_dir):
        base = {r["segment"]: r for r in X.table_fingerprint(spark, sf_dir).collect()}
        # same computation over a 1-cell-perturbed copy must change the
        # segment's fingerprint (min/max/count(distinct) of md5s)
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        first_key = orders.select(F.min("o_orderkey")).first()[0]
        perturbed = orders.withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") == first_key, F.col("o_totalprice") + 0.01)
            .otherwise(F.col("o_totalprice")),
        )
        seg = orders.filter(F.col("o_orderkey") == first_key).first()["o_orderstatus"]
        h = F.md5(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
                F.col("o_orderstatus"),
                F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
                F.col("o_orderpriority"),
            )
        )
        pert = {
            r["segment"]: r
            for r in perturbed.select(
                F.col("o_orderstatus").alias("segment"), h.alias("h")
            )
            .groupBy("segment")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("h").alias("n_distinct_rows"),
                F.min("h").alias("min_h"),
                F.max("h").alias("max_h"),
            )
            .collect()
        }
        changed = (
            base[seg]["min_h"] != pert[seg]["min_h"]
            or base[seg]["max_h"] != pert[seg]["max_h"]
        )
        same_counts = base[seg]["n_rows"] == pert[seg]["n_rows"]
        assert same_counts
        # md5 of a changed row almost surely moves min or max on 3
        # segments × ~1500 rows; if not, distinct count still pins it
        assert changed or base[seg]["n_distinct_rows"] == pert[seg]["n_distinct_rows"]


class TestRollupCascade:
    def test_cascade_matches_direct_daily(self, spark, sf_dir):
        ev = X._t(spark, sf_dir, "events")
        direct = (
            ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .orderBy("d")
            .collect()
        )
        cascade = X.events_rollup_cascade(spark, sf_dir).collect()
        assert [(r["d"], r["n_events"], r["sum_value"]) for r in cascade] == [
            (r["d"], r["n_events"], r["sum_value"]) for r in direct
        ]


class TestHistogram:
    def test_buckets_bounded_and_total_preserved(self, spark, sf_dir):
        out = X.events_value_histogram(spark, sf_dir).collect()
        assert all(0 <= r["bucket"] <= 19 for r in out)
        total = sum(r["n"] for r in out)
        assert total == X._t(spark, sf_dir, "events").count()

    def test_bounds_row_broadcast(self, spark, sf_dir):
        # the min/max row must ride a broadcast, never shuffle the fact
        plan = _plan(X.events_value_histogram(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


class TestWindowDistinctCount:
    def test_running_count_monotone_per_user(self, spark, sf_dir):
        rows = X.window_distinct_count(spark, sf_dir).collect()
        ev = X._t(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
        finals = (
            ev.groupBy("user_id")
            .agg(F.countDistinct("event_type").alias("nd"))
            .collect()
        )
        expect = {r["user_id"]: r["nd"] for r in finals}
        seen_max: dict = {}
        for r in rows:
            u = r["user_id"]
            assert r["n_distinct_types"] >= seen_max.get(u, 0) - 1  # order not guaranteed in collect
            seen_max[u] = max(seen_max.get(u, 0), r["n_distinct_types"])
        assert seen_max == expect

    def test_one_shuffle_two_windows(self, spark, sf_dir):
        plan = _plan(X.window_distinct_count(spark, sf_dir))
        # both windows key on user_id: Catalyst needs at most 2
        # hashpartitionings ((user_id, event_type) then (user_id));
        # never a third
        assert plan.count("Exchange hashpartitioning") <= 2


class TestScd2:
    def test_intervals_chain_without_gaps(self, spark, sf_dir):
        rows = X.scd2_event_intervals(spark, sf_dir).collect()
        by_user: dict = {}
        for r in rows:
            by_user.setdefault(r["user_id"], []).append(r)
        for u, ivs in by_user.items():
            ivs.sort(key=lambda r: r["valid_from"])
            # exactly one open (current) interval per user, at the end
            assert [r["is_current"] for r in ivs].count(True) == 1
            assert ivs[-1]["valid_to"] is None and ivs[-1]["is_current"]
            # each interval closes exactly where the next opens
            for a, b in zip(ivs, ivs[1:]):
                assert a["valid_to"] == b["valid_from"]


class TestTableDiff:
    def test_diff_classes_match_construction(self, spark, sf_dir):
        out = X.table_diff_cdc(spark, sf_dir)
        got = {r["diff_type"]: r["n"] for r in out.groupBy("diff_type").agg(F.count(F.lit(1)).alias("n")).collect()}
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        n_removed = orders.filter(F.col("o_orderkey") % 13 == 0).count()
        n_added = orders.filter(F.col("o_orderkey") % 29 == 0).count()
        # changed = re-priced rows that survived removal
        n_changed = orders.filter(
            (F.col("o_orderkey") % 13 != 0) & (F.col("o_orderkey") % 7 == 0)
        ).count()
        assert got.get("removed", 0) == n_removed
        assert got.get("added", 0) == n_added
        assert got.get("changed", 0) == n_changed

    def test_single_full_outer_join(self, spark, sf_dir):
        plan = _plan(X.table_diff_cdc(spark, sf_dir))
        assert plan.count("FullOuter") == 1


class TestEquidepth:
    def test_quartiles_balanced(self, spark, sf_dir):
        rows = X.events_equidepth_quantiles(spark, sf_dir).collect()
        by_type: dict = {}
        for r in rows:
            by_type.setdefault(r["event_type"], []).append(r)
        for t, qs in by_type.items():
            assert sorted(r["quartile"] for r in qs) == list(range(1, len(qs) + 1))
            ns = [r["n"] for r in qs]
            assert max(ns) - min(ns) <= 1  # ntile balance contract
            qs.sort(key=lambda r: r["quartile"])
            for a, b in zip(qs, qs[1:]):
                assert a["hi"] <= b["lo"] + 1e-9  # non-overlapping value ranges


class TestProductQuantization:
    def test_codes_match_numpy_argmin(self, spark, sf_dir):
        import numpy as np

        out = {r["vec_id"]: r for r in X.embedding_pq_codes(spark, sf_dir).collect()}
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb}
        # replicate the md5 codebook init
        import hashlib

        ids = sorted(vecs, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())[:16]
        for vid, v in list(vecs.items())[:50]:
            for s in range(4):
                sub = v[s * 16:(s + 1) * 16]
                dists = {
                    cid: round(float(((sub - vecs[cid][s * 16:(s + 1) * 16]) ** 2).sum()), 6)
                    for cid in ids
                }
                best = min(dists, key=lambda c: (dists[c], c))
                assert out[vid][f"code_{s}"] == best, (vid, s)

    def test_codebook_broadcast_single_shuffle(self, spark, sf_dir):
        plan = _plan(X.embedding_pq_codes(spark, sf_dir))
        assert "BroadcastExchange" in plan
        # fact path: one groupBy(vec_id) shuffle; the 16-row init limit
        # contributes no hashpartitioning of the fact
        assert plan.count("Exchange hashpartitioning") <= 2


class TestEquidepthApprox:
    def test_all_buckets_within_tolerance(self, spark, sf_dir):
        rows = X.events_equidepth_approx(spark, sf_dir).collect()
        assert rows, "no event types"
        for r in rows:
            assert r["ok_q1"] and r["ok_q2"] and r["ok_q3"] and r["ok_q4"], r

    def test_no_sort_in_fact_path(self, spark, sf_dir):
        # the scale contract: quartile assignment must not globally sort
        # the fact — no Window/ntile, only sketch + broadcast + agg
        plan = _plan(X.events_equidepth_approx(spark, sf_dir))
        assert "Window" not in plan


class TestPqSearch:
    @pytest.fixture(scope="class")
    def emb(self, spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    @pytest.fixture(scope="class")
    def exact(self, emb):
        import numpy as np

        data = {r["vec_id"]: __import__("numpy").array(r["embedding"], dtype=float)
                for r in emb.collect()}

        def topk(qid, k=10):
            q = data[qid]
            d = {i: float(((v - q) ** 2).sum()) for i, v in data.items() if i != qid}
            return set(i for i, _ in sorted(d.items(), key=lambda x: (x[1], x[0]))[:k])

        return topk

    def _recall(self, rows, exact, k=10):
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append(r["neighbor_id"])
        recs = [len(exact(q, k) & set(n)) / k for q, n in got.items()]
        return sum(recs) / len(recs)

    def test_trained_rerank_recall(self, spark, emb, exact):
        from warpdb_spark.operators import similarity as S
        from pyspark.sql import functions as F

        qs = emb.filter(F.col("vec_id") < 20)
        rows = S.pq_topk_rerank(
            emb, qs, k=10, rerank_factor=4, m_subs=16, n_codes=32, train_iters=2
        ).collect()
        assert self._recall(rows, exact) >= 0.6  # measured 0.84

    def test_trained_adc_beats_untrained(self, spark, emb, exact):
        from warpdb_spark.operators import similarity as S
        from pyspark.sql import functions as F

        qs = emb.filter(F.col("vec_id") < 20)
        r_trained = self._recall(
            S.pq_topk(emb, qs, k=10, m_subs=16, n_codes=32, train_iters=2).collect(),
            exact,
        )
        r_init = self._recall(
            S.pq_topk(emb, qs, k=10, m_subs=16, n_codes=32, train_iters=0).collect(),
            exact,
        )
        assert r_trained >= 0.3
        assert r_trained >= r_init - 0.05  # Lloyd must not hurt

    def test_codes_shape_and_determinism(self, spark, emb):
        from warpdb_spark.operators import similarity as S

        cb = S.pq_train(emb, m_subs=16, n_codes=32, train_iters=1)
        assert cb.shape == (16, 32, 4)
        c1 = sorted((r["vec_id"], tuple(r["codes"])) for r in S.pq_encode(emb, cb).collect())
        c2 = sorted((r["vec_id"], tuple(r["codes"])) for r in S.pq_encode(emb, cb).collect())
        assert c1 == c2
        assert all(len(c) == 16 and all(0 <= x < 32 for x in c) for _, c in c1)


class TestCusumEntry:
    def test_cusum_invariants(self, spark):
        from warpdb_spark.inventory.pipeline_ops import events_cusum_changepoints

        rows = events_cusum_changepoints(spark, "/root/testdata/sf0.001").collect()
        assert len(rows) > 0
        for r in rows:
            assert r.cusum >= 0.0  # one-sided statistic is nonnegative

    def test_cusum_detects_injected_shift(self, spark):
        """A mean shift mid-stream must push the statistic over 4 sigma
        after the shift, and stay under before it."""
        from warpdb_spark.inventory import pipeline_ops as P
        from pyspark.sql import Row
        import datetime

        base = datetime.datetime(2025, 1, 1)
        rows = [
            Row(event_id=i, event_type="m", ts=base + datetime.timedelta(minutes=i),
                value=10.0 + (0.5 if i % 2 else -0.5) + (8.0 if i >= 60 else 0.0))
            for i in range(100)
        ]
        df = spark.createDataFrame(rows)
        import unittest.mock as mock

        with mock.patch.object(P, "_t", lambda s, d, n: df):
            out = {r.event_id: r for r in P.events_cusum_changepoints(spark, "x").collect()}
        assert not any(out[i].is_alarm for i in range(30))     # stable regime
        assert all(out[i].is_alarm for i in range(80, 100))    # post-shift


class TestStreamKsDrift:
    def test_identical_and_shifted_batches(self, spark, monkeypatch):
        # batch 0 (baseline) and batch 2 share the distribution
        # {10, 35, 60, 85} uniformly -> ks_d == 0; batch 1 shifts all
        # mass +50 -> ECDFs disjoint in the middle, D = 0.5 at the
        # point where base has seen 2/4 values and batch 1 none... the
        # max gap is where base ECDF=1 and cur ECDF=0.5: at cents 6000
        # base has 3/4=0.75, cur(60,85,110,135 shifted)=..., easiest
        # exact pin: identical batch MUST read 0 and shifted MUST be
        # far from 0 with the argmax at a value both engines agree on.
        rows = []
        for i in range(0, 250):
            rows.append((i, "purchase", 25.0 * (i % 4) + 10.0))
        for i in range(250, 500):
            rows.append((i, "purchase", 25.0 * (i % 4) + 60.0))
        for i in range(500, 750):
            rows.append((i, "purchase", 25.0 * (i % 4) + 10.0))
        ev = spark.createDataFrame(
            rows, "event_id long, event_type string, value double"
        )
        monkeypatch.setattr(X, "_t", lambda s, sd, n: ev)
        got = {r["batch_id"]: r for r in
               X.stream_ks_drift_by_batch(spark, "x").collect()}
        assert set(got) == {1, 2}
        assert got[2]["ks_d"] == 0.0
        # batch 1 values are {60,85,110,135}; base {10,35,60,85}.
        # Residue counts split 63/63/62/62 over 250 ids: base cum at
        # cents 3500 is 63+63=126 while batch 1 has seen nothing ->
        # D = 126/250 = 0.504, the exact maximum.
        assert got[1]["ks_d"] == 0.504
        assert got[1]["ks_at_value"] == 35.0
        assert got[1]["n_batch"] == 250 and got[1]["n_base"] == 250


@pytest.mark.slow
class TestStreamKsFuzz:
    """Engine-parity fuzz for the streaming KS entry: random purchase
    batches vs the entry's own DuckDB oracle — varies support overlap,
    ties, and batch sizes beyond what the fixed test data exercises."""

    def test_random_batches_match_oracle(self, spark, monkeypatch):
        import duckdb
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from warpdb_spark.inventory.analytics_ext import ORACLES

        values = st.lists(
            st.integers(1, 12), min_size=1, max_size=40
        )

        @settings(
            max_examples=8,
            deadline=None,
            suppress_health_check=[HealthCheck.too_slow],
        )
        @given(base=values, b1=values)
        def check(base, b1):
            rows = [
                (i, "purchase", 25.0 * v + 10.0)
                for i, v in enumerate(base)
            ] + [
                (250 + i, "purchase", 25.0 * v + 10.0)
                for i, v in enumerate(b1)
            ]
            ev = spark.createDataFrame(
                rows, "event_id long, event_type string, value double"
            )
            import warpdb_spark.inventory.analytics_ext as ax

            monkeypatch.setattr(ax, "_t", lambda s, sd, n: ev)
            got = sorted(
                map(tuple, ax.stream_ks_drift_by_batch(spark, "x").collect())
            )
            con = duckdb.connect()
            con.register("events_src", ev.toPandas())
            want = sorted(
                map(
                    tuple,
                    con.sql(
                        ORACLES["stream_ks_drift_by_batch"].replace(
                            "FROM events", "FROM events_src"
                        )
                    ).fetchall(),
                )
            )
            assert got == want

        check()


@pytest.mark.slow
class TestStreamPsiFuzz:
    """Entry-level parity fuzz for stream_psi_drift_by_batch: random
    batches through Spark and the entry's own oracle SQL on identical
    rows — exercises the per-batch grid (batch ∪ baseline support)
    on supports the fixed data never produces."""

    def test_random_batches_match_oracle(self, spark, monkeypatch):
        import duckdb
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from warpdb_spark.inventory.analytics_ext import ORACLES

        values = st.lists(st.integers(0, 6), min_size=1, max_size=40)

        @settings(
            max_examples=8,
            deadline=None,
            suppress_health_check=[HealthCheck.too_slow],
        )
        @given(base=values, b1=values)
        def check(base, b1):
            rows = [
                (i, "purchase", 25.0 * v + 5.0) for i, v in enumerate(base)
            ] + [
                (250 + i, "purchase", 25.0 * v + 5.0)
                for i, v in enumerate(b1)
            ]
            ev = spark.createDataFrame(
                rows, "event_id long, event_type string, value double"
            )
            import warpdb_spark.inventory.analytics_ext as ax

            monkeypatch.setattr(ax, "_t", lambda s, sd, n: ev)
            got = sorted(
                map(tuple, ax.stream_psi_drift_by_batch(spark, "x").collect())
            )
            con = duckdb.connect()
            con.register("events_src", ev.toPandas())
            want = sorted(
                map(
                    tuple,
                    con.sql(
                        ORACLES["stream_psi_drift_by_batch"].replace(
                            "FROM events", "FROM events_src"
                        )
                    ).fetchall(),
                )
            )
            assert got == want

        check()


class TestPqPersistedIndex:
    @pytest.mark.slow
    def test_query_path_scans_only_index_tables(self, spark, sf_dir):
        """The deployment claim of similarity_pq_persisted_index: after
        the one-time build, a query batch's plan reads the persisted
        codes parquet and NOT the raw embeddings (query vectors are
        fetched eagerly during construction with a pushed-down filter,
        so they never appear in the returned plan). Also: serving from
        the persisted index must rank identically to the inline-build
        ADC entry."""
        from warpdb_spark.inventory.analytics_ext import (
            similarity_pq_adc,
            similarity_pq_persisted_index,
        )

        df = similarity_pq_persisted_index(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "codes.parquet" in plan, plan[:2000]
        assert "embeddings.parquet" not in plan, plan[:2000]
        got = sorted(map(tuple, df.collect()))
        want = sorted(map(tuple, similarity_pq_adc(spark, sf_dir).collect()))
        assert got == want


class TestPqIndexRefresh:
    def test_refresh_touches_only_the_delta(self, spark, sf_dir):
        """The refresh claims: (a) re-refreshing after the delta is
        dropped rebuilds ONLY the delta — the base code files stay
        byte-identical (no corpus rewrite); (b) the delta encode scan
        pushes vec_id >= cutoff down to the embeddings parquet, so the
        refresh cost is O(new rows); (c) the served ranking equals a
        single-pipeline build with the same base-trained codebook
        (the oracle proves this vs DuckDB; here vs base+delta math:
        result must also DIFFER from the full-corpus-trained ADC,
        proving the codebook really is frozen at base)."""
        import glob
        import hashlib
        import os

        from warpdb_spark.inventory.analytics_ext import (
            _PQ_INDEX_ROOT,
            _PQ_REFRESH_CUTOFF,
            similarity_pq_index_refresh,
        )

        first = sorted(map(tuple, similarity_pq_index_refresh(spark, sf_dir).collect()))
        key = (
            f"{sf_dir.rstrip('/')}|refresh|m16|c32|s42|iters0"
            f"|cut{_PQ_REFRESH_CUTOFF}|v1"
        )
        idx = os.path.join(
            _PQ_INDEX_ROOT, hashlib.md5(key.encode()).hexdigest()[:12]
        )
        assert os.path.isdir(idx)

        def digest(sub):
            return {
                p: hashlib.md5(open(p, "rb").read()).hexdigest()
                for p in sorted(glob.glob(os.path.join(idx, sub, "*")))
                if os.path.isfile(p)
            }

        base_before = digest("base_codes.parquet")
        import shutil

        shutil.rmtree(os.path.join(idx, "delta_codes.parquet"))
        again = sorted(map(tuple, similarity_pq_index_refresh(spark, sf_dir).collect()))
        assert digest("base_codes.parquet") == base_before
        assert os.path.exists(
            os.path.join(idx, "delta_codes.parquet", "_SUCCESS")
        )
        assert again == first
        # (b) delta rows are exactly the post-cutoff slice
        delta = spark.read.parquet(os.path.join(idx, "delta_codes.parquet"))
        lo = delta.agg({"vec_id": "min"}).first()[0]
        assert lo >= _PQ_REFRESH_CUTOFF
        base = spark.read.parquet(os.path.join(idx, "base_codes.parquet"))
        assert base.agg({"vec_id": "max"}).first()[0] < _PQ_REFRESH_CUTOFF


def test_persisted_index_self_heals_partial_dir(spark, sf_dir):
    """r9 review finding: a rename failure used to be read as 'a
    concurrent winner exists', so a PARTIAL index dir (crash between
    table writes, hand-deleted table) wedged the cache forever — the
    fresh build was discarded and every later call failed on the
    missing table. _publish_atomic removes a partial destination and
    retries."""
    import hashlib
    import os
    import shutil

    from warpdb_spark.inventory.analytics_ext import (
        _PQ_INDEX_ROOT,
        similarity_pq_persisted_index,
    )

    first = sorted(map(tuple, similarity_pq_persisted_index(spark, sf_dir).collect()))
    key = f"{sf_dir.rstrip('/')}|m16|c32|s42|iters0|v1"
    idx = os.path.join(_PQ_INDEX_ROOT, hashlib.md5(key.encode()).hexdigest()[:12])
    shutil.rmtree(os.path.join(idx, "codebooks.parquet"))
    again = sorted(map(tuple, similarity_pq_persisted_index(spark, sf_dir).collect()))
    assert again == first
    assert os.path.exists(os.path.join(idx, "codebooks.parquet", "_SUCCESS"))
    assert not [d for d in os.listdir(_PQ_INDEX_ROOT) if ".tmp-" in d]


def test_index_build_sweeps_dead_builds(spark, sf_dir):
    """A build killed before its publish leaves an ``<idx>.tmp-<pid>-*``
    dir behind. The next build removes it once that pid is dead, and
    keeps a live pid's dir, which may be a concurrent build."""
    import hashlib
    import os
    import shutil
    import subprocess

    from warpdb_spark.inventory.analytics_ext import (
        _PQ_INDEX_ROOT,
        similarity_pq_persisted_index,
    )

    key = f"{sf_dir.rstrip('/')}|m16|c32|s42|iters0|v1"
    idx = os.path.join(_PQ_INDEX_ROOT, hashlib.md5(key.encode()).hexdigest()[:12])
    gone = subprocess.Popen(["true"])
    gone.wait()
    dead = f"{idx}.tmp-{gone.pid}-deadbeef"
    live = f"{idx}.tmp-{os.getpid()}-a11ve000"
    for d in (dead, live):
        os.makedirs(os.path.join(d, "codes.parquet"), exist_ok=True)
    try:
        # a missing table makes the next call rebuild
        shutil.rmtree(os.path.join(idx, "codebooks.parquet"), ignore_errors=True)
        similarity_pq_persisted_index(spark, sf_dir).collect()
        assert os.path.exists(os.path.join(idx, "codebooks.parquet", "_SUCCESS"))
        assert not os.path.exists(dead)
        assert os.path.isdir(live)
    finally:
        shutil.rmtree(dead, ignore_errors=True)
        shutil.rmtree(live, ignore_errors=True)


def test_refresh_delta_encode_pushes_cutoff_to_scan(spark, sf_dir):
    """The O(new rows) refresh claim holds only if the delta encode's
    embeddings scan pushes vec_id >= cutoff down to parquet."""
    from warpdb_spark.inventory.analytics_ext import _PQ_REFRESH_CUTOFF, _t
    from warpdb_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    cb = S.pq_train(
        emb.filter(F.col("vec_id") < _PQ_REFRESH_CUTOFF),
        m_subs=16, n_codes=32, train_iters=0, seed=42,
    )
    delta = S.pq_encode(emb.filter(F.col("vec_id") >= _PQ_REFRESH_CUTOFF), cb)
    plan = _plan(delta)
    assert "PushedFilters" in plan and "GreaterThanOrEqual(vec_id," in plan, plan[:1500]


class TestZorderLayout:
    def test_morton_interleave_known_bits(self, spark):
        # x=0b1010 → z bits 2,6 (=68); y=0b0101 → z bits 1,5 (=34)
        df = spark.createDataFrame([(10, 5)], "x long, y long")
        z = df.select(X._z_interleave(F.col("x"), F.col("y")).alias("z")).collect()
        assert z[0]["z"] == 102

    def test_uniform_grid_zorder_dominates_linear(self, spark, monkeypatch):
        # one event per (user, cent) grid cell: x and y each cover
        # 0..15 after bucketization; the probe box covers a contiguous
        # sub-square, so z-order must scan no more rows than linear
        # and both must agree on the matching-row count
        import datetime

        t0 = datetime.datetime(2024, 1, 1)
        rows = []
        eid = 0
        for u in range(64):
            for c in range(16):
                rows.append((eid, t0, u, "view", (c * 3200 + 1) / 100.0))
                eid += 1
        ev = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double",
        )
        import warpdb_spark.inventory.analytics_ext as ax

        monkeypatch.setattr(ax, "_t", lambda s, sd, n: ev)
        got = {r["layout"]: r for r in X.table_zorder_layout(spark, "x").collect()}
        assert got["zorder"]["rows_matching"] == got["linear"]["rows_matching"]
        assert got["zorder"]["rows_scanned"] <= got["linear"]["rows_scanned"]
        # every scanned bucket exists and scan covers at least matches
        for leg in got.values():
            assert leg["rows_scanned"] >= leg["rows_matching"]
            assert 0 < leg["buckets_hit"] <= leg["n_buckets"] <= 64

    def test_real_data_efficiency_story(self, spark, sf_dir):
        got = {r["layout"]: r for r in X.table_zorder_layout(spark, sf_dir).collect()}
        z, lin = got["zorder"], got["linear"]
        assert z["rows_matching"] == lin["rows_matching"]
        # the entry's whole point: two-dimensional pruning beats
        # leading-column pruning on a 2-D box
        assert z["rows_scanned"] < lin["rows_scanned"]
        assert z["scan_efficiency"] > lin["scan_efficiency"]


class TestOhlcBars:
    def test_hand_bar(self, spark, monkeypatch):
        import datetime

        t0 = datetime.datetime(2024, 1, 1, 9, 0, 0)
        # one hour, one type: open=first by (ts,event_id), close=last;
        # the 9:00:05 tie resolves by event_id (2 before 3)
        rows = [
            (1, t0 + datetime.timedelta(seconds=1), 1, "trade", 10.0),
            (2, t0 + datetime.timedelta(seconds=5), 1, "trade", 30.0),
            (3, t0 + datetime.timedelta(seconds=5), 1, "trade", 5.0),
            (0, t0, 1, "trade", 20.0),
        ]
        ev = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double",
        )
        import warpdb_spark.inventory.analytics_ext as ax

        monkeypatch.setattr(ax, "_t", lambda s, sd, n: ev)
        r = X.events_ohlc_bars(spark, "x").collect()
        assert len(r) == 1
        bar = r[0]
        assert bar["open_v"] == 20.0 and bar["close_v"] == 5.0
        assert bar["high_v"] == 30.0 and bar["low_v"] == 5.0
        assert bar["n_events"] == 4 and bar["volume"] == 65.0

    def test_bar_invariants_on_real_data(self, spark, sf_dir):
        for r in X.events_ohlc_bars(spark, sf_dir).collect():
            assert r["low_v"] <= r["open_v"] <= r["high_v"]
            assert r["low_v"] <= r["close_v"] <= r["high_v"]
            assert r["n_events"] >= 1


class TestIvfPq:
    def test_reranked_distances_are_exact_and_self_excluded(self, spark, sf_dir):
        import numpy as np

        rows = X.similarity_ivfpq(spark, sf_dir).collect()
        emb = {
            r["vec_id"]: np.array(list(r["embedding"]), dtype=np.float64)
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        }
        per_q = {}
        for r in rows:
            assert r["neighbor_id"] != r["query_id"]
            exact = round(float(((emb[r["query_id"]] - emb[r["neighbor_id"]]) ** 2).sum()), 6)
            assert r["dist2"] == exact  # rerank stage IS full precision
            per_q.setdefault(r["query_id"], []).append((r["rank"], r["dist2"]))
        assert len(per_q) == 10
        for q, rs in per_q.items():
            rs.sort()
            assert [x[0] for x in rs] == list(range(1, len(rs) + 1))
            assert [x[1] for x in rs] == sorted(x[1] for x in rs)

    def test_recall_against_exact_l2(self, spark, sf_dir):
        """IVFPQ@nprobe=4/16 with rerank must recover a reasonable
        share of the exact L2 top-5 — the go/no-go reading an IVFPQ
        deployment takes before trusting the index (the pruning can
        only lose neighbors whose lists were not probed)."""
        import numpy as np

        from warpdb_spark.operators import similarity as S

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in X.similarity_ivfpq(spark, sf_dir).collect()
        }
        rows = emb.collect()
        M = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
        ids = np.array([r["vec_id"] for r in rows])
        exact = set()
        for qpos in np.flatnonzero(ids < 10):
            d = ((M - M[qpos]) ** 2).sum(axis=1)
            d[qpos] = np.inf
            order = np.lexsort((ids, np.round(d, 6)))[:5]
            exact |= {(int(ids[qpos]), int(ids[i])) for i in order}
        recall = len(got & exact) / len(exact)
        # the synthetic embeddings are near-uniform, so the coarse
        # quantizer carries little cluster signal: the unstructured
        # baseline is nprobe/num_lists = 0.25 (a probed list holds a
        # true neighbor by chance alone). Deterministic pipeline →
        # deterministic reading; assert it BEATS the random-pruning
        # baseline rather than a clustered-data fantasy. On clustered
        # data (real embeddings) recall rises with cluster purity.
        assert recall > 0.25

    def test_residual_variant_reranks_exactly_and_beats_baseline(
        self, spark, sf_dir
    ):
        """True IVFADC (residual codes): the rerank contract is
        identical — full-precision distances, self excluded, dense
        ranks — and the shortlist still beats the random-pruning
        baseline. (The recall WIN of residuals shows on clustered
        corpora — tools/replay_ann_recall.py; these embeddings are
        near-uniform, so here we pin correctness, not superiority.)"""
        import numpy as np

        rows = X.similarity_ivfpq_residual(spark, sf_dir).collect()
        emb = {
            r["vec_id"]: np.array(list(r["embedding"]), dtype=np.float64)
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        }
        per_q = {}
        for r in rows:
            assert r["neighbor_id"] != r["query_id"]
            exact = round(
                float(((emb[r["query_id"]] - emb[r["neighbor_id"]]) ** 2).sum()), 6
            )
            assert r["dist2"] == exact
            per_q.setdefault(r["query_id"], []).append(r["rank"])
        assert len(per_q) == 10
        for ranks in per_q.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))

    def test_residual_beats_raw_pq_on_clustered_corpus(self, spark):
        """The reason residual IVFADC exists (pinned small: the 1M
        two-corpus evidence lives in tools/replay_ann_recall.py): on a
        CLUSTERED corpus every true neighbor is within-cluster, raw
        PQ gives cluster members near-identical codes (ADC can't rank
        inside the cluster), residual codes quantize the
        within-cluster offsets. 2000x64, 16 hash-Gaussian clusters,
        fully deterministic: measured recall raw 0.325 vs residual
        0.675 — assert the separation, not the exact values."""
        import hashlib

        import numpy as np

        from warpdb_spark.operators import similarity as S

        n, dim, K = 2000, 64, 16

        def h(x):
            return int(hashlib.md5(str(x).encode()).hexdigest()[:8], 16)

        centers = np.array(
            [[((h((c, i)) % 2001) - 1000) / 1000.0 for i in range(dim)]
             for c in range(K)]
        )
        cl = np.array([h((j,)) % K for j in range(n)])
        noise = np.array(
            [[((h((j, i, "n")) % 2001) - 1000) / 1000.0 * 0.1
              for i in range(dim)] for j in range(n)]
        )
        M = centers[cl] + noise
        emb = spark.createDataFrame(
            [(int(i), [float(x) for x in M[i]]) for i in range(n)],
            "vec_id long, embedding array<double>",
        ).cache()
        emb.count()
        qs = emb.filter(F.col("vec_id") < 8)
        exact = set()
        for q in range(8):
            d = ((M - M[q]) ** 2).sum(axis=1)
            d[q] = np.inf
            exact |= {(q, int(i)) for i in np.argsort(d)[:5]}
        recall = {}
        for res in (False, True):
            got = {
                (r["query_id"], r["neighbor_id"])
                for r in S.ivfpq_topk(
                    emb, qs, k=5, num_lists=32, nprobe=4, m_subs=16,
                    n_codes=32, train_iters=0, rerank_factor=4, seed=42,
                    residual=res,
                ).collect()
            }
            recall[res] = len(got & exact) / len(exact)
        emb.unpersist()
        assert recall[True] >= recall[False] + 0.2, recall
        assert recall[True] >= 0.5, recall
