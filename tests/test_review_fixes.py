"""Regression tests for defects found in the round-1 code review."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from warpdb_spark.api import WarpDB
from warpdb_spark.errors import ParseError, ValidationError
from warpdb_spark.operators.asof import asof_join, range_join
from warpdb_spark.operators.dedup import lsh_candidate_pairs, ngram_jaccard


class TestSetOpTailClauses:
    def test_order_limit_bind_to_combined_result(self, spark):
        a = spark.createDataFrame([Row(v=1.0), Row(v=5.0)])
        b = spark.createDataFrame([Row(v=3.0), Row(v=9.0)])
        db = WarpDB(df=a, table_name="a", spark=spark)
        db.attach("b", b)
        out = db.query_sql("SELECT v FROM a UNION ALL SELECT v FROM b ORDER BY v DESC LIMIT 3")
        assert [r.v for r in out.collect()] == [9.0, 5.0, 3.0]

    def test_order_before_setop_rejected(self, spark):
        db = WarpDB(df=spark.createDataFrame([Row(v=1)]), table_name="a", spark=spark)
        db.attach("b", db.df)
        with pytest.raises(ParseError, match="last query of a set operation"):
            db.query_sql("SELECT v FROM a ORDER BY v UNION SELECT v FROM b")


class TestAsofGenuineNull:
    def test_null_right_value_is_matched_not_skipped(self, spark):
        left = spark.createDataFrame([Row(id=1, k="a", t=3)])
        right = spark.createDataFrame(
            [Row(k="a", t=1, v=5.0), Row(k="a", t=2, v=None)]
        )
        out = asof_join(left, right, on="t", by="k", right_cols=["v"])
        # nearest right row (t=2) has v NULL — must return NULL, not 5.0
        assert out.first().v_right is None


class TestRangeJoinHow:
    def test_banded_left_join_keeps_unmatched(self, spark):
        left = spark.createDataFrame([Row(id=1, val=5.0), Row(id=2, val=999.0)])
        right = spark.createDataFrame([Row(band="b0", lo=0.0, hi=10.0)])
        out = range_join(left, right, "val", "lo", "hi", band_width=5.0, how="left")
        got = {r.id: r.band for r in out.collect()}
        assert got == {1: "b0", 2: None}

    def test_banded_unsupported_how_raises(self, spark):
        df = spark.createDataFrame([Row(val=1.0, lo=0.0, hi=2.0)])
        with pytest.raises(ValueError, match="inner/left"):
            range_join(df, df, "val", "lo", "hi", band_width=1.0, how="full")


class TestShortDocJaccard:
    def test_distinct_short_docs_not_duplicates(self, spark):
        docs = spark.createDataFrame(
            [Row(doc_id=1, text="hello world"), Row(doc_id=2, text="foo bar")]
        )
        pairs = spark.createDataFrame([Row(id_a=1, id_b=2)])
        j = ngram_jaccard(docs, pairs).first().jaccard
        assert j == 0.0

    def test_identical_short_docs_are_duplicates(self, spark):
        docs = spark.createDataFrame(
            [Row(doc_id=1, text="hello world"), Row(doc_id=2, text="Hello  WORLD")]
        )
        pairs = lsh_candidate_pairs(docs, max_bucket_size=10)
        verified = ngram_jaccard(docs, pairs)
        assert verified.first().jaccard == 1.0

    def test_shingle_size_threads_through(self, spark):
        docs = spark.createDataFrame(
            [Row(doc_id=i, text=f"w{i} a b c d e f") for i in range(4)]
        )
        # 5-gram candidates must come from 5-gram signatures (no crash,
        # consistent pipeline)
        pairs = lsh_candidate_pairs(docs, shingle_size=5, max_bucket_size=10)
        verified = ngram_jaccard(docs, pairs, shingle_size=5)
        for r in verified.collect():
            assert 0.0 <= r.jaccard <= 1.0


class TestWindowDistinctRejected:
    def test_distinct_window_agg_raises(self, spark, fixture_csv):
        db = WarpDB(fixture_csv, spark=spark, table_name="test")
        with pytest.raises(ValidationError, match="DISTINCT.*not supported"):
            db.query_sql(
                "SELECT COUNT(DISTINCT price) OVER (PARTITION BY quantity) AS c FROM test"
            )


class TestLagLeadLiterals:
    def test_lag_with_default(self, spark, fixture_csv):
        db = WarpDB(fixture_csv, spark=spark, table_name="test")
        out = db.query_sql(
            "SELECT quantity, LAG(price, 1, 0) OVER (ORDER BY quantity) AS prev "
            "FROM test ORDER BY quantity"
        )
        assert [r.prev for r in out.collect()][0] == 0.0

    def test_lag_nonliteral_offset_rejected(self, spark, fixture_csv):
        db = WarpDB(fixture_csv, spark=spark, table_name="test")
        with pytest.raises(ValidationError, match="integer literal"):
            db.query_sql(
                "SELECT LAG(price, quantity) OVER (ORDER BY quantity) AS p FROM test"
            )


class TestEmptyTableStats:
    def test_stats_on_empty_table(self, spark, fixture_csv):
        db = WarpDB(fixture_csv, spark=spark, table_name="test")
        db.tables["test"] = db.df.filter(F.lit(False))
        stats = db.table_stats().collect()
        assert all(r.null_count == 0 for r in stats)


class TestMemorySinkMode:
    def test_map_only_stream_drains(self, spark, tmp_path):
        from pyspark.sql.types import DoubleType, StructField, StructType

        from warpdb_spark.streaming.windows import run_to_memory_sink

        (tmp_path / "a.csv").write_text("price,quantity\n10.5,3\n1.0,1\n")
        schema = StructType(
            [StructField("price", DoubleType()), StructField("quantity", DoubleType())]
        )
        db = WarpDB(str(tmp_path / "a.csv"), spark=spark)
        stream = db.query_stream("price * quantity WHERE price > 5", str(tmp_path), schema)
        q = run_to_memory_sink(stream, "maponly_test", timeout_sec=120)
        q.stop()
        vals = [r.result for r in spark.sql("SELECT * FROM maponly_test").collect()]
        assert vals == pytest.approx([31.5])


# --- round-2 fixes (ADVICE.md after r1) ------------------------------------


class TestEmptyScalarSubquery:
    def test_empty_limit1_subquery_yields_null_not_annihilation(self, spark):
        """A LIMIT 1 scalar subquery over zero rows must evaluate to NULL
        (ANSI), not drop every outer row via an empty cross join."""
        db = WarpDB(
            df=spark.createDataFrame([Row(v=1.0), Row(v=2.0)]),
            table_name="a",
            spark=spark,
        )
        db.attach("b", spark.createDataFrame([Row(w=10.0)]))
        # SELECT-list position: outer rows must survive, column is NULL
        out = db.query_sql(
            "SELECT v, (SELECT w FROM b WHERE w < 0 LIMIT 1) AS sub FROM a"
        ).collect()
        assert len(out) == 2
        assert all(r.sub is None for r in out)
        # WHERE position: NULL comparison removes rows (same as ANSI),
        # but v < coalesce(NULL, 99) keeps them — proves NULL, not empty
        kept = db.query_sql(
            "SELECT v FROM a "
            "WHERE v < coalesce((SELECT w FROM b WHERE w < 0 LIMIT 1), 99.0)"
        ).collect()
        assert len(kept) == 2

    def test_nonempty_limit1_subquery_unchanged(self, spark):
        db = WarpDB(
            df=spark.createDataFrame([Row(v=1.0), Row(v=2.0)]),
            table_name="a",
            spark=spark,
        )
        db.attach("b", spark.createDataFrame([Row(w=1.5)]))
        out = db.query_sql(
            "SELECT v FROM a WHERE v > (SELECT w FROM b LIMIT 1)"
        ).collect()
        assert [r.v for r in out] == [2.0]


class TestRangeJoinNullPayload:
    def test_left_row_with_null_payload_not_duplicated(self, spark):
        """Anti-join on all columns is null-unsafe: a matched left row
        carrying a NULL payload column used to reappear null-extended."""
        left = spark.createDataFrame(
            [Row(id=1, val=5.0, note=None), Row(id=2, val=999.0, note=None)],
            "id int, val double, note string",
        )
        right = spark.createDataFrame([Row(band="b0", lo=0.0, hi=10.0)])
        out = range_join(left, right, "val", "lo", "hi", band_width=5.0, how="left")
        rows = out.collect()
        assert len(rows) == 2
        got = {r.id: r.band for r in rows}
        assert got == {1: "b0", 2: None}


class TestCosineTopkNpContract:
    def test_string_ids_supported(self, spark):
        from warpdb_spark.operators import similarity as S

        df = spark.createDataFrame(
            [
                Row(vec_id="a", embedding=[1.0, 0.0]),
                Row(vec_id="b", embedding=[0.9, 0.1]),
                Row(vec_id="c", embedding=[0.0, 1.0]),
            ]
        )
        out = S.cosine_topk_np(df, df.filter(F.col("vec_id") == "a"), k=1)
        row = out.first()
        assert row.query_id == "a" and row.neighbor_id == "b"
        # contract parity with the HOF path
        hof = S.cosine_topk(df, df.filter(F.col("vec_id") == "a"), k=1).first()
        assert (row.query_id, row.neighbor_id, row.cosine) == (
            hof.query_id,
            hof.neighbor_id,
            hof.cosine,
        )

    def test_query_collect_cap_delegates_to_blocked(self, spark):
        """r12 (r11 verdict item 8): a query set past max_queries no
        longer raises — it routes through the fully-distributed blocked
        path with identical results."""
        from warpdb_spark.operators import similarity as S

        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(i), 1.0]) for i in range(10)]
        )
        capped = sorted(
            map(tuple, S.cosine_topk_np(df, df, k=1, max_queries=5).collect())
        )
        direct = sorted(map(tuple, S.cosine_topk_np(df, df, k=1).collect()))
        assert capped == direct and len(capped) == 10

    def test_rounded_tie_preselect_keeps_lowest_id(self, spark):
        """Four candidates whose cosines all round to 1.0 at 6dp but
        differ in raw float: the per-batch top-(k+1) must use the final
        (rounded desc, id asc) order, so id 1 wins — not the raw-float
        argmax (which would pick the largest raw similarity, id 4)."""
        from warpdb_spark.operators import similarity as S

        eps = [4e-9, 3e-9, 2e-9, 1e-9]  # raw cosine increases with id
        rows = [Row(vec_id=0, embedding=[1.0, 0.0])] + [
            Row(vec_id=i + 1, embedding=[1.0, eps[i]]) for i in range(4)
        ]
        df = spark.createDataFrame(rows).coalesce(1)
        out = S.cosine_topk_np(df, df.filter(F.col("vec_id") == 0), k=1)
        row = out.first()
        assert row.cosine == 1.0
        assert row.neighbor_id == 1


class TestIvfBroadcastCentroids:
    def test_plan_size_constant_in_num_lists(self, spark, sf_dir):
        """Centroids ride a broadcast matrix, not literal expressions:
        the analyzed plan must not grow with num_lists."""
        from warpdb_spark.operators import similarity as S

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.filter(F.col("vec_id") < 3)
        plan_small = S.ivf_topk(emb, q, k=3, num_lists=4)._jdf.queryExecution().analyzed().toString()
        plan_big = S.ivf_topk(emb, q, k=3, num_lists=256)._jdf.queryExecution().analyzed().toString()
        assert len(plan_big) < len(plan_small) * 1.5


class TestParameterizedCast:
    def test_decimal_precision_scale(self, spark):
        db = WarpDB(df=spark.createDataFrame([Row(v=12.3456)]), table_name="a", spark=spark)
        out = db.query_sql("SELECT CAST(v AS DECIMAL(10,2)) AS d FROM a")
        assert out.schema["d"].dataType.simpleString() == "decimal(10,2)"
        assert float(out.first().d) == 12.35

    def test_decimal_default_scale_zero(self, spark):
        db = WarpDB(df=spark.createDataFrame([Row(v=12.6)]), table_name="a", spark=spark)
        out = db.query_sql("SELECT CAST(v AS DECIMAL(6)) AS d FROM a")
        assert out.schema["d"].dataType.simpleString() == "decimal(6,0)"

    def test_varchar_length_accepted(self, spark):
        db = WarpDB(df=spark.createDataFrame([Row(v=1.5)]), table_name="a", spark=spark)
        out = db.query_sql("SELECT CAST(v AS VARCHAR(20)) AS s FROM a")
        assert out.schema["s"].dataType.simpleString() == "string"
        assert out.first().s == "1.5"

    def test_bare_decimal_still_works(self, spark):
        db = WarpDB(df=spark.createDataFrame([Row(v=1.5)]), table_name="a", spark=spark)
        out = db.query_sql("SELECT CAST(v AS DECIMAL) AS d FROM a")
        assert out.schema["d"].dataType.simpleString() == "decimal(38,18)"

    def test_unparameterized_type_with_params_rejected(self, spark):
        db = WarpDB(df=spark.createDataFrame([Row(v=1.5)]), table_name="a", spark=spark)
        with pytest.raises(ParseError, match="takes no parameters"):
            db.query_sql("SELECT CAST(v AS INT(4)) AS d FROM a")

    def test_non_integer_param_rejected(self, spark):
        db = WarpDB(df=spark.createDataFrame([Row(v=1.5)]), table_name="a", spark=spark)
        with pytest.raises(ParseError, match="integer type parameter"):
            db.query_sql("SELECT CAST(v AS DECIMAL(1.5)) AS d FROM a")


class TestOrderedAggValidation:
    """Round-3 review: StringAgg lost its children() when ArrayAgg was
    inserted — walk()/validate() skipped the STRING_AGG ORDER BY key, so
    unknown columns there surfaced as raw AnalysisException instead of
    ValidationError."""

    def test_string_agg_unknown_order_key_raises_validation_error(self, spark):
        db = WarpDB(df=spark.createDataFrame([Row(g=1, v="a")]), table_name="t", spark=spark)
        with pytest.raises(ValidationError, match="Unknown column: nope"):
            db.query_sql("SELECT g, STRING_AGG(v, ',' ORDER BY nope) AS s FROM t GROUP BY g")

    def test_array_agg_unknown_order_key_raises_validation_error(self, spark):
        db = WarpDB(df=spark.createDataFrame([Row(g=1, v="a")]), table_name="t", spark=spark)
        with pytest.raises(ValidationError, match="Unknown column: nope"):
            db.query_sql("SELECT g, ARRAY_AGG(v ORDER BY nope) AS s FROM t GROUP BY g")

    def test_string_agg_order_key_in_walk(self):
        from warpdb_spark.plans import ast as A

        node = A.StringAgg("STRING_AGG", A.Var("v"), False, None,
                           sep=",", order_key=A.Var("k"), key_asc=True)
        names = {s.name for s in node.walk() if isinstance(s, A.Var)}
        assert names == {"v", "k"}


class TestOrderedAggDescTieBreak:
    """Round-3 review: DESC was implemented as sort+reverse, which also
    reversed the documented ascending element-value tie-break."""

    def test_string_agg_desc_ties_break_value_ascending(self, spark):
        rows = [Row(g=1, k=2, v="b"), Row(g=1, k=2, v="a"), Row(g=1, k=1, v="c")]
        db = WarpDB(df=spark.createDataFrame(rows), table_name="t", spark=spark)
        out = db.query_sql(
            "SELECT g, STRING_AGG(v, ',' ORDER BY k DESC) AS s FROM t GROUP BY g"
        )
        # k=2 ties: a before b (value ascending), then k=1
        assert out.first().s == "a,b,c"

    def test_array_agg_desc_ties_break_value_ascending(self, spark):
        rows = [Row(g=1, k=2, v=20.0), Row(g=1, k=2, v=10.0), Row(g=1, k=1, v=30.0)]
        db = WarpDB(df=spark.createDataFrame(rows), table_name="t", spark=spark)
        out = db.query_sql("SELECT g, ARRAY_AGG(v ORDER BY k DESC) AS a FROM t GROUP BY g")
        assert out.first().a == [10.0, 20.0, 30.0]

    def test_string_agg_asc_unchanged(self, spark):
        rows = [Row(g=1, k=1, v="y"), Row(g=1, k=2, v="x")]
        db = WarpDB(df=spark.createDataFrame(rows), table_name="t", spark=spark)
        out = db.query_sql("SELECT g, STRING_AGG(v, ',' ORDER BY k) AS s FROM t GROUP BY g")
        assert out.first().s == "y,x"


class TestHintOutsideSelectPosition:
    """Round-3 review: a /*+ ... */ comment anywhere but right after
    SELECT broke parsing with an unexpected-token error; engines treat
    hint-shaped comments elsewhere as plain comments."""

    def test_hint_in_where_position_ignored(self, spark):
        db = WarpDB(df=spark.createDataFrame([Row(v=1.0), Row(v=5.0)]), table_name="t", spark=spark)
        out = db.query_sql("SELECT v FROM t /*+ NOT_A_REAL_HINT(x) */ WHERE v > 2")
        assert [r.v for r in out.collect()] == [5.0]

    def test_hint_before_select_ignored(self, spark):
        db = WarpDB(df=spark.createDataFrame([Row(v=1.0)]), table_name="t", spark=spark)
        out = db.query_sql("/*+ BROADCAST(t) */ SELECT v FROM t")
        assert out.count() == 1

    def test_post_select_hint_still_parsed(self, spark):
        db = WarpDB(df=spark.createDataFrame([Row(v=1.0)]), table_name="t", spark=spark)
        ast = __import__("warpdb_spark.plans.parser", fromlist=["parse_query"]).parse_query(
            "SELECT /*+ BROADCAST(t) */ v FROM t"
        )
        assert ast.broadcast_hints == ["t"]

    def test_malformed_post_select_hint_still_rejected(self, spark):
        db = WarpDB(df=spark.createDataFrame([Row(v=1.0)]), table_name="t", spark=spark)
        with pytest.raises(ParseError, match="Malformed optimizer hint"):
            db.query_sql("SELECT /*+ oops */ v FROM t")


class TestAnalysisExceptionSubclassWrapped:
    """Round-3 review: AnalysisException was matched by exact class name,
    so pyspark.errors subclasses escaped the ValidationError wrapping."""

    def test_subclass_instance_is_wrapped(self, spark):
        from pyspark.errors import AnalysisException

        class FakeSubclass(AnalysisException):
            pass

        db = WarpDB(df=spark.createDataFrame([Row(v=1.0)]), table_name="t", spark=spark)
        import warpdb_spark.plans.builder as B

        orig = B.build_dataframe

        def boom(*a, **k):
            raise FakeSubclass("synthetic analysis failure")

        import warpdb_spark.api as api_mod

        api_mod.build_dataframe, saved = boom, api_mod.build_dataframe
        try:
            with pytest.raises(ValidationError, match="Invalid query for this schema"):
                db.query_sql("SELECT v FROM t")
        finally:
            api_mod.build_dataframe = saved


class TestOrderedAggNullKeys:
    """Round-4 self-review: the DESC comparator treated a NULL order key
    as a tie with EVERY key — non-transitive, so null-keyed elements
    interleaved arbitrarily (and TimSort can throw on frames >= 32).
    Contract now: NULL keys sort LAST under DESC (DuckDB default),
    value-ascending within the null group."""

    def test_desc_null_keys_sort_last_value_ascending(self, spark):
        rows = [
            Row(g=1, k=5, v="a"), Row(g=1, k=None, v="m"), Row(g=1, k=1, v="z"),
            Row(g=1, k=3, v="b"), Row(g=1, k=None, v="c"),
        ]
        db = WarpDB(df=spark.createDataFrame(rows), table_name="t", spark=spark)
        out = db.query_sql(
            "SELECT g, STRING_AGG(v, ',' ORDER BY k DESC) AS s FROM t GROUP BY g"
        )
        assert out.first().s == "a,b,z,c,m"

    def test_desc_null_keys_large_group_no_contract_violation(self, spark):
        # >= 32 elements exercises TimSort's merge path where a
        # non-transitive comparator throws
        rows = [Row(g=1, k=(None if i % 3 == 0 else i), v=f"v{i:02d}") for i in range(40)]
        db = WarpDB(df=spark.createDataFrame(rows), table_name="t", spark=spark)
        s = db.query_sql(
            "SELECT g, STRING_AGG(v, ',' ORDER BY k DESC) AS s FROM t GROUP BY g"
        ).first().s
        parts = s.split(",")
        nonnull = [f"v{i:02d}" for i in sorted((i for i in range(40) if i % 3 != 0), reverse=True)]
        nulls = sorted(f"v{i:02d}" for i in range(0, 40, 3))
        assert parts == nonnull + nulls


class TestRound5AdviceFixes:
    """Regressions for the five r4 ADVICE findings."""

    def test_with_ties_survives_user_ties_rk_column(self, spark):
        rows = [Row(v=1, g=10), Row(v=2, g=10), Row(v=3, g=20), Row(v=4, g=20)]
        db = WarpDB(df=spark.createDataFrame(rows), table_name="t", spark=spark)
        out = db.query_sql(
            "SELECT v AS __ties_rk, g FROM t ORDER BY g FETCH FIRST 1 ROWS WITH TIES"
        )
        got = sorted((r["__ties_rk"], r.g) for r in out.collect())
        # boundary g=10 ties -> both rows kept, user column intact
        assert got == [(1, 10), (2, 10)]

    def test_table_func_quotes_source_column(self, spark):
        from warpdb_spark.functions.registry import default_registry
        from warpdb_spark.plans import ast as A
        from warpdb_spark.plans.builder import _build_table_func

        df = spark.createDataFrame([Row(doc_id=1)]).withColumn(
            "text body", F.lit("alpha beta gamma")
        )
        tfc = A.TableFuncCall(
            name="split_ngrams",
            args=[A.Var(name="docs.text body"), A.Num(2)],
        )
        out = _build_table_func({"docs": df}, tfc, default_registry())
        grams = sorted(r.ngram for r in out.collect())
        assert grams == ["alpha beta", "beta gamma"]

    def test_string_agg_asc_null_order_keys_sort_last(self, spark):
        # DuckDB default is NULLS LAST in both directions; plain
        # array_sort would have put the NULL-keyed value FIRST under ASC
        rows = [
            Row(g=1, k=2, v="b"),
            Row(g=1, k=None, v="z"),
            Row(g=1, k=1, v="a"),
        ]
        db = WarpDB(df=spark.createDataFrame(rows), table_name="t", spark=spark)
        out = db.query_sql(
            "SELECT g, STRING_AGG(v, ',' ORDER BY k) AS s, "
            "STRING_AGG(v, ',' ORDER BY k DESC) AS sd FROM t GROUP BY g"
        )
        r = out.first()
        assert r.s == "a,b,z"
        assert r.sd == "b,a,z"

    def test_split_ngrams_rejects_fractional_n(self):
        from warpdb_spark.functions import udtfs

        cls = getattr(udtfs.SplitNgrams, "func", udtfs.SplitNgrams)
        with pytest.raises(ValueError, match="must be an integer"):
            list(cls().eval("a b c", 2.7))
        # integral-valued floats still accepted (2.0 == 2)
        assert list(cls().eval("a b c", 2.0)) == [(0, "a b"), (1, "b c")]
