"""Scale-tooling tests: compat shim, salted join, bucketed co-located
join (plan-level assertion: bucketing removes the Exchange)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from warpdb_spark.operators.skew import salted_join
from warpdb_spark.sources.bucketing import read_bucketed, write_bucketed


class TestCompatShim:
    def test_query_returns_floats(self, spark, fixture_csv):
        from warpdb_spark.compat import WarpDB

        db = WarpDB(fixture_csv)
        out = db.query("price + 1")
        assert isinstance(out, list) and all(isinstance(v, float) for v in out)
        assert sorted(out) == pytest.approx([11.5, 16.25, 21.0, 31.0])

    def test_flagship_with_where(self, fixture_csv):
        from warpdb_spark.compat import WarpDB

        db = WarpDB(fixture_csv)
        out = sorted(db.query("price * quantity WHERE price > 10"))
        assert out == pytest.approx([30.5, 31.5, 80.0, 150.0])
        assert db.query_multi_gpu("price") == db.query("price")

    def test_query_arrow_capsule_pair_roundtrip(self, fixture_csv):
        import pyarrow as pa

        from warpdb_spark.compat import WarpDB

        array_capsule, schema_capsule = WarpDB(fixture_csv).query_arrow("price")
        assert "capsule" in type(array_capsule).__name__.lower()
        assert "capsule" in type(schema_capsule).__name__.lower()

        class _CArrayWrapper:
            """Adapter: the reference-ordered (array, schema) pair →
            Arrow PyCapsule protocol (schema first)."""

            def __init__(self, array_capsule, schema_capsule):
                self._pair = (schema_capsule, array_capsule)

            def __arrow_c_array__(self, requested_schema=None):
                return self._pair

        arr = pa.array(_CArrayWrapper(array_capsule, schema_capsule))
        assert arr.type == pa.float32()
        assert sorted(arr.to_pylist()) == pytest.approx([10.5, 15.25, 20.0, 30.0])


class TestSaltedJoin:
    def test_salted_equals_plain(self, spark):
        left = spark.createDataFrame(
            [Row(k="hot", v=i) for i in range(100)] + [Row(k="cold", v=0)]
        )
        right = spark.createDataFrame([Row(k="hot", w=1.0), Row(k="cold", w=2.0)])
        plain = left.join(right, "k").select("k", "v", "w")
        salted = salted_join(left, right, "k", salt=4).select("k", "v", "w")
        assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))

    def test_left_join_preserved(self, spark):
        left = spark.createDataFrame([Row(k="a", v=1), Row(k="miss", v=2)])
        right = spark.createDataFrame([Row(k="a", w=9.0)])
        out = salted_join(left, right, "k", salt=3, how="left").collect()
        got = {r.k: r.w for r in out}
        assert got == {"a": 9.0, "miss": None}


class TestBucketing:
    def test_bucketed_join_has_no_exchange(self, spark, sf_dir):
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        write_bucketed(orders, "b_orders", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
        write_bucketed(lineitem, "b_lineitem", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
        bo, bl = read_bucketed(spark, "b_orders"), read_bucketed(spark, "b_lineitem")
        joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        # co-located: bucket layout replaces the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = joined._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        assert "Exchange" not in plan, plan
        assert joined.count() == lineitem.count()


class TestBucketedJoin:
    def test_bucketed_join_has_no_exchange(self, spark, sf_dir, tmp_path):
        """Two tables bucketed on the join key must SortMergeJoin with
        ZERO Exchange operators — the co-located join that makes
        repeated fact-fact joins affordable at 100 TB."""
        from warpdb_spark.sources.writers import write_bucketed

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        try:
            write_bucketed(orders, "b_orders", ["o_orderkey"], num_buckets=8)
            write_bucketed(
                lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
                "b_lineitem",
                ["o_orderkey"],
                num_buckets=8,
            )
            a = spark.table("b_orders")
            b = spark.table("b_lineitem")
            # disable broadcast so the join would otherwise shuffle
            with_hint = a.hint("merge").join(b, "o_orderkey")
            plan = with_hint._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            # sanity: result matches the plain join
            plain = orders.join(
                lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
            )
            assert with_hint.count() == plain.count()
        finally:
            spark.sql("DROP TABLE IF EXISTS b_orders")
            spark.sql("DROP TABLE IF EXISTS b_lineitem")


class TestPartitionPruning:
    def test_partitioned_write_prunes_at_scan(self, spark, sf_dir, tmp_path):
        """A filter on the partition column must prune directories at
        planning time (PartitionFilters), not scan-and-discard."""
        from warpdb_spark.sources.writers import write_table

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        path = str(tmp_path / "docs_by_lang")
        write_table(docs, path, partition_by=["lang"])
        back = spark.read.parquet(path).filter("lang = 'en'")
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
        assert "isnotnull(lang" in plan or "(lang" in plan
        n_all = docs.filter("lang = 'en'").count()
        assert back.count() == n_all
