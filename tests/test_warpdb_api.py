"""End-to-end golden tests on the reference's verbatim fixtures with its
hand-computed expected values (FIXTURES.md §1; tests/sql_features_test.cpp,
tests/having_distinct_test.cpp, tests/extended_types_test.cpp,
tests/test_python.py)."""

import pytest

from warpdb_spark.api import WarpDB
from warpdb_spark.errors import ValidationError


@pytest.fixture(scope="module")
def db(spark, fixture_csv):
    # default CSV schema is all-float32 (src/csv_loader.cpp:68)
    return WarpDB(fixture_csv, spark=spark, table_name="test")


@pytest.fixture(scope="module")
def ext_db(spark, extended_csv):
    # explicit positional schema {F32,I32,F32} (tests/extended_types_test.cpp:5-6)
    return WarpDB(extended_csv, schema=["float32", "int32", "float32"], spark=spark, table_name="test")


def vals(df, col=None):
    col = col or df.columns[0]
    return [r[col] for r in df.collect()]


class TestQueryMiniLanguage:
    def test_flagship(self, db):
        # price * quantity WHERE price > 10 (include/warpdb.hpp:18)
        out = sorted(vals(db.query("price * quantity WHERE price > 10")))
        assert out == pytest.approx([30.5, 31.5, 80.0, 150.0])

    def test_no_where(self, db):
        # query("price + 1") → 4 rows (tests/test_python.py:1-5)
        out = db.query("price + 1")
        assert out.count() == 4
        assert sorted(vals(out)) == pytest.approx([11.5, 16.25, 21.0, 31.0])

    def test_where_keyword_case_insensitive(self, db):
        # reference splits on case-insensitive WHERE substring (src/warpdb.cpp:204-213)
        assert db.query("price where price > 20").count() == 1

    def test_unknown_column(self, db):
        with pytest.raises(ValidationError, match="Unknown column: foo"):
            db.query("foo + 1")

    def test_float32_coercion_optin(self, db):
        out = db.query("price / 3", coerce_float32=True)
        assert dict(out.dtypes)["result"] == "float"


class TestQuerySQL:
    def test_group_by_sum(self, db):
        # SELECT SUM(price) FROM test GROUP BY quantity ORDER BY quantity ASC
        # → sums {15.25, 10.5, 20.0, 30.0} for q=2,3,4,5 (tests/sql_features_test.cpp:11-22)
        out = db.query_sql(
            "SELECT SUM(price) FROM test GROUP BY quantity ORDER BY quantity ASC"
        )
        assert vals(out) == pytest.approx([15.25, 10.5, 20.0, 30.0])

    def test_order_by_desc_limit(self, db):
        # → {30.0, 20.0} (tests/sql_features_test.cpp:24-31)
        out = db.query_sql("SELECT price FROM test ORDER BY price DESC LIMIT 2")
        assert vals(out) == pytest.approx([30.0, 20.0])

    def test_offset(self, db):
        # ORDER BY price DESC OFFSET 1 LIMIT 2 → 2 rows (sql_features_test.cpp:33-34)
        out = db.query_sql("SELECT price FROM test ORDER BY price DESC LIMIT 2 OFFSET 1")
        assert vals(out) == pytest.approx([20.0, 15.25])

    def test_having(self, db):
        # HAVING SUM(price) > 15 → 3 rows (sql_features_test.cpp:36-37)
        out = db.query_sql(
            "SELECT SUM(price) FROM test GROUP BY quantity "
            "HAVING SUM(price) > 15 ORDER BY quantity ASC"
        )
        assert vals(out) == pytest.approx([15.25, 20.0, 30.0])

    def test_having_agg_not_in_select(self, db):
        # HAVING COUNT(price) > 1 → empty (tests/having_distinct_test.cpp:7-8)
        out = db.query_sql(
            "SELECT SUM(price) FROM test GROUP BY quantity HAVING COUNT(price) > 1"
        )
        assert out.count() == 0

    def test_distinct_order_desc(self, db):
        # SELECT DISTINCT quantity ... ORDER BY quantity DESC → 4 rows desc
        # (tests/having_distinct_test.cpp:10-13)
        out = db.query_sql("SELECT DISTINCT quantity FROM test ORDER BY quantity DESC")
        assert vals(out) == pytest.approx([5.0, 4.0, 3.0, 2.0])

    def test_global_aggregate(self, db):
        # 🟡 in the reference (grammar allows, no reduction kernel —
        # src/warpdb.cpp:445-459); we execute it.
        out = db.query_sql("SELECT SUM(price * quantity) AS total FROM test")
        assert vals(out, "total") == pytest.approx([292.0])

    def test_multi_key_multi_agg(self, db):
        # grammar accepted multi-key/multi-item, execution didn't
        # (src/expression.cpp:417-443 vs src/warpdb.cpp:350-362) — generalized.
        out = db.query_sql(
            "SELECT quantity, SUM(price) AS s, COUNT(price) AS c, AVG(price) AS a "
            "FROM test GROUP BY quantity ORDER BY quantity"
        )
        rows = out.collect()
        assert len(rows) == 4 and rows[0]["c"] == 1

    def test_unknown_column_clause_context(self, db):
        with pytest.raises(ValidationError, match="Unknown column: foo in WHERE clause"):
            db.query_sql("SELECT price FROM test WHERE foo > 1")

    def test_analysis_error_surfaces_as_validation_error(self, db):
        # Spark analysis failures during plan BUILD (generator on a
        # scalar column) must wear the dialect's error type, not leak a
        # raw Py4J AnalysisException through query_sql
        with pytest.raises(ValidationError, match="Invalid query for this schema"):
            db.query_sql("SELECT unnest(price) FROM test")

    def test_case_expression(self, db):
        out = db.query_sql(
            "SELECT CASE WHEN price > 18 THEN 1 ELSE 0 END AS big FROM test"
        )
        assert sorted(vals(out, "big")) == [0, 0, 1, 1]

    def test_window_function(self, db):
        # completing the parse-only WindowFunctionNode (include/expression.hpp:112-121)
        out = db.query_sql(
            "SELECT quantity, SUM(price) OVER (ORDER BY quantity "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running FROM test "
            "ORDER BY quantity"
        )
        assert vals(out, "running") == pytest.approx([15.25, 25.75, 45.75, 75.75])


class TestExtendedSchemaAndUDF:
    def test_positional_schema(self, ext_db):
        # price * discount → first value ≈ 1.05 (tests/extended_types_test.cpp:8-9)
        out = ext_db.query("price * discount")
        assert sorted(vals(out))[1] == pytest.approx(1.05)
        types = dict(ext_db.df.dtypes)
        assert types == {"price": "float", "quantity": "int", "discount": "float"}

    def test_schema_arity_mismatch(self, spark, extended_csv):
        with pytest.raises(ValueError, match="Schema size mismatch"):
            WarpDB(extended_csv, schema=["float32"], spark=spark)

    def test_custom_function_discount(self, ext_db):
        # discount(price, 0.9) ≡ price * 0.9 (custom.cu:1-3)
        out = ext_db.query("discount(price, 0.9) WHERE quantity > 3")
        assert sorted(vals(out)) == pytest.approx([18.0, 27.0])

    def test_register_pandas_function(self, ext_db):
        import pandas as pd

        ext_db.register_pandas_function("plus_one", lambda s: s + 1.0, "double")
        out = ext_db.query("plus_one(price)")
        assert sorted(vals(out)) == pytest.approx([11.5, 16.25, 21.0, 31.0])

    def test_unknown_function(self, ext_db):
        with pytest.raises(ValidationError, match="Unknown function: frobnicate"):
            ext_db.query("frobnicate(price)")


class TestArrowAndJson:
    def test_query_arrow(self, db):
        tbl = db.query_arrow("price * quantity WHERE price > 10")
        assert tbl.num_rows == 4
        assert tbl.column_names == ["result"]

    def test_json_load(self, spark, fixture_json):
        db = WarpDB(fixture_json, spark=spark, table_name="test")
        assert db.query("price + 1").count() == 4

    def test_unsupported_extension(self, spark):
        with pytest.raises(ValueError, match="Unsupported file type"):
            WarpDB("/tmp/data.xyz", spark=spark)

    def test_join_executes(self, spark, fixture_csv):
        # the reference parses JOIN but never executes (include/warpdb.hpp:22)
        db = WarpDB(fixture_csv, spark=spark, table_name="a")
        db.attach("b", db.df)
        out = db.query_sql(
            "SELECT a.price AS ap, b.quantity AS bq FROM a JOIN b ON a.quantity = b.quantity"
        )
        assert out.count() == 4


class TestCustomModule:
    def test_load_custom_module(self, spark, extended_csv, tmp_path):
        """custom.cu analog: file-defined functions become dialect
        functions (src/jit.cpp:65-73, custom.cu:1-3)."""
        mod = tmp_path / "custom.py"
        mod.write_text(
            "def discount(price, factor):\n"
            "    return price * factor\n"
            "\n"
            "def markup(price):\n"
            "    return price * 1.1\n"
        )
        db = WarpDB(extended_csv, schema=["float64", "int32", "float64"], spark=spark, table_name="test")
        db.load_custom_module(str(mod))
        out = sorted(r[0] for r in db.query("markup(discount(price, 0.5))").collect())
        assert out[0] == pytest.approx(10.5 * 0.5 * 1.1)

    def test_sql_escape_hatch(self, spark, fixture_csv):
        db = WarpDB(fixture_csv, spark=spark, table_name="test")
        out = db.sql("SELECT count(*) AS n FROM test WHERE price > 12")
        assert out.first().n == 3


def test_explain_returns_physical_plan(spark, sf_dir):
    from warpdb_spark.api import WarpDB

    db = WarpDB(f"{sf_dir}/lineitem.parquet", spark=spark, table_name="lineitem")
    plan = db.explain(
        "SELECT l_returnflag AS flag, SUM(l_quantity) AS q FROM lineitem "
        "WHERE l_quantity > 10 GROUP BY l_returnflag"
    )
    assert "HashAggregate" in plan
    assert "PushedFilters" in plan  # predicate reached the parquet scan


class TestProfile:
    """WarpDB.profile: per-node runtime metrics off the EXECUTED plan
    (AQE-final), incl. scan row counts — the observability surface of
    the reference's timing output (src/main.cu:302-306)."""

    def test_profile_reaches_scan_metrics(self, spark, sf_dir):
        from warpdb_spark.api import WarpDB

        db = WarpDB(
            f"{sf_dir}/orders.parquet", spark=spark, table_name="orders"
        )
        prof = db.profile(
            "SELECT o_orderpriority AS p, COUNT(*) AS n "
            "FROM orders GROUP BY o_orderpriority"
        )
        names = [r["node"] for r in prof]
        assert any("Scan" in n for n in names)
        assert any("HashAggregate" in n for n in names)
        scan = next(r for r in prof if "Scan" in r["node"])
        n_rows = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
        assert scan["numOutputRows"] == n_rows
        # depths describe a tree: root at 0, monotone growth down paths
        assert prof[0]["depth"] == 0
        assert all(r["depth"] >= 0 for r in prof)


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _persisted(df) -> bool:
    # storageLevel asks the cache manager (is_cached is a Python flag)
    return df.storageLevel.useMemory


class TestResidentSnapshot:
    """Row-text tables are tokenized once, by the handle's first query,
    into Spark's columnar cache (the reference keeps loaded columns on
    the GPU, include/csv_loader.hpp:15-20); every other source stays a
    lazy scan."""

    def test_csv_query_reads_in_memory_relation(self, spark, fixture_csv):
        with WarpDB(fixture_csv, spark=spark, table_name="test") as db:
            assert _persisted(db.df)
            assert sorted(vals(db.query("price"))) == [10.5, 15.25, 20.0, 30.0]
            plan = _plan(db.query_sql("SELECT price FROM test WHERE quantity > 2"))
            assert "InMemoryRelation" in plan, plan

    def test_json_handle_is_resident(self, spark, fixture_json):
        with WarpDB(fixture_json, spark=spark, table_name="test") as db:
            assert db.query("price + 1").count() == 4
            assert "InMemoryRelation" in _plan(db.query("price"))

    def test_rewritten_csv_old_handle_keeps_snapshot(self, spark, tmp_path):
        p = tmp_path / "grow.csv"
        p.write_text("price,quantity\n1.0,1\n2.0,2\n")
        old = WarpDB(str(p), spark=spark)
        assert sorted(vals(old.query("price"))) == [1.0, 2.0]
        p.write_text("price,quantity\n1.0,1\n2.0,2\n3.0,3\n")
        new = WarpDB(str(p), spark=spark)
        try:
            assert sorted(vals(old.query("price"))) == [1.0, 2.0]
            assert sorted(vals(new.query("price"))) == [1.0, 2.0, 3.0]
            # a new snapshot under an existing name sees the file too
            old.attach("t", str(p))
            assert sorted(vals(old.query("price"))) == [1.0, 2.0, 3.0]
        finally:
            old.close()
            new.close()

    def test_parquet_handle_stays_lazy(self, spark, sf_dir):
        db = WarpDB(f"{sf_dir}/orders.parquet", spark=spark, table_name="orders")
        df = db.query_sql("SELECT o_orderkey FROM orders WHERE o_orderkey < 10")
        df.collect()
        assert not _persisted(db.df)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryRelation" not in plan and "PushedFilters" in plan

    def test_query_csv_stays_lazy(self, spark, fixture_csv):
        df = WarpDB.query_csv(fixture_csv, "price WHERE price > 12", spark=spark)
        assert sorted(vals(df)) == [15.25, 20.0, 30.0]
        assert "InMemoryRelation" not in _plan(df)

    def test_caller_dataframes_are_never_persisted(self, spark):
        src = spark.createDataFrame([(1.0, 2)], "price double, quantity int")
        other = spark.createDataFrame([(3,)], "k int")
        db = WarpDB(df=src, spark=spark).attach("o", other)
        db.query("price").collect()
        db.query_sql("SELECT k FROM o").collect()
        assert not _persisted(src) and not _persisted(other)

    def test_close_releases_only_own_snapshots(self, spark, fixture_csv, extended_csv):
        caller = spark.createDataFrame([(1,)], "k int").persist()
        db = WarpDB(fixture_csv, spark=spark).attach("ext", extended_csv).attach("c", caller)
        own, ext = db.df, db.tables["ext"]
        db.query("price").collect()
        assert _persisted(own) and _persisted(ext)
        db.close()
        assert not _persisted(own) and not _persisted(ext)
        assert _persisted(caller)
        assert sorted(vals(db.query("price"))) == [10.5, 15.25, 20.0, 30.0]
        caller.unpersist()

    def test_context_manager_releases(self, spark, fixture_csv):
        with WarpDB(fixture_csv, spark=spark) as db:
            db.query("price").collect()
            own = db.df
            assert _persisted(own)
        assert not _persisted(own)

    def test_attach_replacement_releases_old_snapshot(self, spark, fixture_csv, extended_csv):
        db = WarpDB(fixture_csv, spark=spark, table_name="a").attach("b", extended_csv)
        first_b = db.tables["b"]
        db.attach("b", extended_csv)
        second_b = db.tables["b"]
        assert not _persisted(first_b) and _persisted(second_b)
        caller = spark.createDataFrame([(1,)], "k int")
        db.attach("b", caller)
        assert not _persisted(second_b)
        # a snapshot still attached under another name is kept
        db.attach("alias", db.df)
        db.attach("a", caller)
        assert _persisted(db.tables["alias"])
        db.close()
        assert not _persisted(db.tables["alias"])
