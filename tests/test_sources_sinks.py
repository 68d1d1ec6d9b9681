"""Source/sink coverage (SURVEY §2.1): every reader format the
reference dispatches on (csv/json/parquet/arrow/orc,
src/warpdb.cpp:159-190) plus the file sinks the reference lacks, the
CLI, and the streaming query API."""

import subprocess
import sys

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StructField,
    StructType,
)

from warpdb_spark.api import WarpDB
from warpdb_spark.errors import ValidationError
from warpdb_spark.sources.readers import load_table, read_arrow
from warpdb_spark.sources.writers import write_table


@pytest.fixture(scope="module")
def small_df(spark):
    return spark.createDataFrame(
        [Row(price=10.5, quantity=3), Row(price=20.0, quantity=4)]
    )


class TestEventTimeNormalization:
    """ns_to_timestamp adapts to every known event-time encoding and
    fails LOUDLY on anything else (round-2 regression class)."""

    def test_ns_longs_and_ntz_both_normalize(self, spark):
        import datetime

        from pyspark.sql import functions as F

        from warpdb_spark.sources.readers import ns_to_timestamp

        base = datetime.datetime(2024, 1, 1, 12, 0, 0)
        ns = spark.createDataFrame(
            [(1, 1704110400_000_000_000)], "id long, ts long"
        )
        ntz = spark.createDataFrame([(1, base)], "id long, ts timestamp_ntz")
        # compare via date_format (renders in the pinned session TZ) —
        # collecting raw LTZ datetimes would depend on the HOST's local
        # timezone, a false failure on non-UTC machines
        fmt = lambda df: ns_to_timestamp(df, "ts").select(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("s")
        ).collect()[0]["s"]
        assert fmt(ns) == fmt(ntz) == "2024-01-01 12:00:00"

    def test_missing_column_raises(self, spark):
        from warpdb_spark.sources.readers import ns_to_timestamp

        df = spark.createDataFrame([(1,)], "id long")
        with pytest.raises(ValueError, match="not in"):
            ns_to_timestamp(df, "ts")

    def test_unsupported_dtype_raises(self, spark):
        from warpdb_spark.sources.readers import ns_to_timestamp

        df = spark.createDataFrame([("2024-01-01",)], "ts string")
        with pytest.raises(TypeError, match="unsupported event-time dtype"):
            ns_to_timestamp(df, "ts")


class TestFormats:
    def test_parquet_roundtrip(self, spark, small_df, tmp_path_factory):
        p = str(tmp_path_factory.mktemp("fmt") / "t.parquet")
        write_table(small_df, p, "parquet")
        assert load_table(spark, p).count() == 2

    def test_orc_roundtrip(self, spark, small_df, tmp_path_factory):
        p = str(tmp_path_factory.mktemp("fmt") / "t.orc")
        write_table(small_df, p, "orc")
        assert load_table(spark, p).count() == 2

    def test_csv_sink_roundtrip(self, spark, small_df, tmp_path_factory):
        p = str(tmp_path_factory.mktemp("fmt") / "t.csv")
        write_table(small_df, p, "csv")
        out = load_table(spark, p, infer=True)
        assert out.count() == 2 and set(out.columns) == {"price", "quantity"}

    def test_json_sink_roundtrip(self, spark, small_df, tmp_path_factory):
        p = str(tmp_path_factory.mktemp("fmt") / "t.json")
        write_table(small_df, p, "json")
        assert load_table(spark, p).count() == 2

    def test_arrow_ipc_read(self, spark, tmp_path_factory):
        import pyarrow as pa
        import pyarrow.ipc as ipc

        path = str(tmp_path_factory.mktemp("fmt") / "t.arrow")
        table = pa.table({"price": [10.5, 20.0], "quantity": [3, 4]})
        with ipc.new_file(path, table.schema) as w:
            w.write_table(table)
        df = read_arrow(spark, path)
        assert df.count() == 2
        # extension dispatch also routes .arrow / .feather here
        assert load_table(spark, path).count() == 2

    def test_arrow_ipc_dir_reads_partition_parallel(self, spark, tmp_path_factory):
        """Distributed IPC directory scan (r11): a multi-file dir decodes
        inside executors via binaryFile + mapInArrow — rows from every
        file, values exact, stream-format files accepted, and the plan
        scans binaryFile (not a driver createDataFrame)."""
        import pyarrow as pa
        import pyarrow.ipc as ipc

        from warpdb_spark.sources.readers import read_arrow_dir

        d = tmp_path_factory.mktemp("ipcdir")
        total = 0
        for i in range(5):
            n = 10 + i
            table = pa.table(
                {"k": list(range(total, total + n)), "v": [float(i)] * n}
            )
            if i == 4:  # one stream-format payload among file-format ones
                with ipc.new_stream(str(d / f"p{i}.arrow"), table.schema) as w:
                    w.write_table(table)
            else:
                with ipc.new_file(str(d / f"p{i}.arrow"), table.schema) as w:
                    w.write_table(table)
            total += n
        df = read_arrow(spark, str(d))  # dir routes to read_arrow_dir
        rows = df.collect()
        assert len(rows) == total
        assert sorted(r["k"] for r in rows) == list(range(total))
        assert "BinaryFile" in df._jdf.queryExecution().executedPlan().toString() or \
            "binaryFile" in df._jdf.queryExecution().toString()
        # schema drift raises with the offending file named
        bad = pa.table({"k": [1], "other": ["x"]})
        with ipc.new_file(str(d / "p9.arrow"), bad.schema) as w:
            w.write_table(bad)
        with pytest.raises(Exception, match="schema drift"):
            read_arrow_dir(spark, str(d)).collect()

    def test_arrow_ipc_dir_uri_and_feather(self, spark, tmp_path_factory):
        """The r11 advice items: the directory listing/schema probe go
        through pyarrow.fs (so a ``file://`` URI — the portable spelling
        of a non-driver-local filesystem — works end to end), and the
        default pattern matches ``.feather`` alongside ``.arrow``."""
        import pyarrow as pa
        import pyarrow.ipc as ipc

        from warpdb_spark.sources.readers import read_arrow, read_arrow_dir

        d = tmp_path_factory.mktemp("ipcuri")
        t1 = pa.table({"k": [1, 2], "v": [1.0, 2.0]})
        t2 = pa.table({"k": [3, 4, 5], "v": [3.0, 4.0, 5.0]})
        with ipc.new_file(str(d / "a.arrow"), t1.schema) as w:
            w.write_table(t1)
        with ipc.new_file(str(d / "b.feather"), t2.schema) as w:
            w.write_table(t2)
        # a decoy that must NOT match the IPC pattern
        (d / "notes.txt").write_text("not ipc")

        rows = read_arrow_dir(spark, f"file://{d}").collect()
        assert sorted(r["k"] for r in rows) == [1, 2, 3, 4, 5]
        # plain local path: same result, .feather included
        rows = read_arrow_dir(spark, str(d)).collect()
        assert sorted(r["k"] for r in rows) == [1, 2, 3, 4, 5]
        # single-file and directory routing also accept file:// URIs
        assert read_arrow(spark, f"file://{d}/a.arrow").count() == 2
        assert read_arrow(spark, f"file://{d}").count() == 5

    def test_partitioned_sink(self, spark, sf_dir, tmp_path_factory):
        p = str(tmp_path_factory.mktemp("fmt") / "part")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        write_table(docs, p, "parquet", partition_by=["lang"])
        out = spark.read.parquet(p)
        assert out.count() == docs.count()
        # partition pruning: reading one lang touches one directory
        assert out.filter(F.col("lang") == "en").count() == docs.filter(
            F.col("lang") == "en"
        ).count()

    def test_shared_location_export(self, spark, fixture_csv, tmp_path_factory):
        db = WarpDB(fixture_csv, spark=spark)
        p = str(tmp_path_factory.mktemp("fmt") / "shared")
        db.query_to_shared("price + 1", p)
        assert spark.read.parquet(p).count() == 4


class TestQueryStream:
    def test_mini_language_on_stream(self, spark, tmp_path_factory):
        d = tmp_path_factory.mktemp("stream")
        (d / "a.csv").write_text("price,quantity\n10.5,3\n20.0,4\n")
        (d / "b.csv").write_text("price,quantity\n30.0,5\n1.0,1\n")
        schema = StructType(
            [StructField("price", DoubleType()), StructField("quantity", DoubleType())]
        )
        db = WarpDB(str(d / "a.csv"), spark=spark)
        stream = db.query_stream(
            "price * quantity WHERE price > 5", str(d), schema
        )
        assert stream.isStreaming
        q = (
            stream.writeStream.format("memory")
            .queryName("qstream_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        vals = sorted(
            r.result for r in spark.sql("SELECT * FROM qstream_test").collect()
        )
        assert vals == pytest.approx([31.5, 80.0, 150.0])

    def test_unknown_column_raises_like_query(self, spark, tmp_path_factory):
        d = tmp_path_factory.mktemp("stream_bad")
        (d / "a.csv").write_text("price,quantity\n10.5,3\n")
        schema = StructType(
            [StructField("price", DoubleType()), StructField("quantity", DoubleType())]
        )
        db = WarpDB(str(d / "a.csv"), spark=spark)
        for expr in ("foo + 1", "price WHERE foo > 1"):
            with pytest.raises(ValidationError) as batch:
                db.query(expr)
            with pytest.raises(ValidationError) as stream:
                db.query_stream(expr, str(d), schema)
            assert str(stream.value) == str(batch.value)
            assert "Unknown column: foo" in str(stream.value)


class TestCLI:
    @pytest.mark.slow
    def test_cli_mini_language(self, fixture_csv):
        proc = subprocess.run(
            [sys.executable, "-m", "warpdb_spark", "price + 1", fixture_csv],
            capture_output=True,
            text=True,
            timeout=180,
            cwd="/root/repo",
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert "result" in proc.stdout

    def test_cli_error_path(self, fixture_csv):
        proc = subprocess.run(
            [sys.executable, "-m", "warpdb_spark", "nope + 1", fixture_csv],
            capture_output=True,
            text=True,
            timeout=180,
            cwd="/root/repo",
        )
        assert proc.returncode == 1
        assert "Unknown column: nope" in proc.stderr


class TestClusteredWrite:
    """write_clustered must produce NON-overlapping per-row-group key
    ranges (the min-max pruning contract) while preserving the data."""

    def test_rowgroup_ranges_disjoint_and_data_preserved(
        self, spark, tmp_path_factory
    ):
        import glob

        import pyarrow.parquet as pq

        from warpdb_spark.sources.writers import write_clustered

        base = str(tmp_path_factory.mktemp("clustered"))
        # shuffled key order: consecutive ids map to scattered ts
        df = spark.range(20_000).select(
            F.col("id"),
            ((F.col("id") * 48271) % 20_000).alias("ts"),
        )
        write_clustered(df, f"{base}/clustered", ["ts"], num_files=8)

        spans = []
        for f in glob.glob(f"{base}/clustered/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(1)
                assert col.path_in_schema == "ts"
                spans.append((col.statistics.min, col.statistics.max))
        spans.sort()
        assert len(spans) >= 8
        for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
            assert hi1 < lo2, f"overlapping row-group ranges: {spans}"

        back = spark.read.parquet(f"{base}/clustered")
        assert back.count() == 20_000
        assert back.agg(F.sum("ts")).first()[0] == df.agg(F.sum("ts")).first()[0]

    def test_selective_filter_prunes_rowgroups(self, spark, tmp_path_factory):
        """With disjoint ranges, a narrow ts filter must read only the
        matching row-groups — visible as scanned-rows << total rows in
        the scan metrics."""
        base = str(tmp_path_factory.mktemp("pruned"))
        from warpdb_spark.sources.writers import write_clustered

        df = spark.range(200_000).select(
            F.col("id"), ((F.col("id") * 48271) % 200_000).alias("ts")
        )
        write_clustered(
            df, f"{base}/t", ["ts"], num_files=8,
            **{"parquet.block.size": "65536"},
        )
        scan = spark.read.parquet(f"{base}/t").filter(
            (F.col("ts") >= 1000) & (F.col("ts") < 1200)
        )
        assert scan.count() == 200
        scan.collect()
        node = scan._jdf.queryExecution().executedPlan()
        # walk to the FileSourceScan leaf and read its numOutputRows
        import re

        metrics_text = node.toString()
        # the scan must not have materialized anywhere near all rows;
        # assert via the simpler observable: row-groups are small
        # enough that full-scan fallback would read 200k rows. Use
        # SQL metrics through the Scala plan tree.
        leaf = node
        while leaf.children().size() > 0:
            leaf = leaf.children().apply(0)
        got = leaf.metrics().apply("numOutputRows").value()
        assert got < 50_000, f"scan read {got} rows — row-group pruning inactive"


class TestZOrderWrite:
    """write_zorder must prune row groups for filters on EITHER
    z-column — the multi-dimensional contract write_clustered can't
    give (its second column gets no pruning)."""

    @staticmethod
    def _scan_rows(spark, path, cond):
        scan = spark.read.parquet(path).filter(cond)
        scan.collect()
        leaf = scan._jdf.queryExecution().executedPlan()
        while leaf.children().size() > 0:
            leaf = leaf.children().apply(0)
        return leaf.metrics().apply("numOutputRows").value()

    def test_data_preserved_and_both_dims_prune(self, spark, tmp_path_factory):
        from warpdb_spark.sources.writers import write_clustered, write_zorder

        base = str(tmp_path_factory.mktemp("zorder"))
        n = 200_000
        side = 1000  # x,y uniform over a 1000x1000 grid, scattered order
        df = spark.range(n).select(
            F.col("id"),
            ((F.col("id") * 48271) % side).alias("x"),
            ((F.col("id") * 69621) % side).alias("y"),
        )
        opts = {"parquet.block.size": "65536"}
        write_zorder(df, f"{base}/z", ["x", "y"], num_files=8, **opts)
        write_clustered(df, f"{base}/linear", ["x"], num_files=8, **opts)

        back = spark.read.parquet(f"{base}/z")
        assert back.count() == n
        assert (
            back.agg(F.sum("x"), F.sum("y")).first()
            == df.agg(F.sum("x"), F.sum("y")).first()
        )

        # a 5% box on EACH axis independently must prune on the z table
        x_cond = (F.col("x") >= 100) & (F.col("x") < 150)
        y_cond = (F.col("y") >= 100) & (F.col("y") < 150)
        zx = self._scan_rows(spark, f"{base}/z", x_cond)
        zy = self._scan_rows(spark, f"{base}/z", y_cond)
        assert zx < n / 2, f"x-filter read {zx} of {n}"
        assert zy < n / 2, f"y-filter read {zy} of {n}"

        # on the y-axis the z-order table must beat the x-linear table,
        # which has no y locality at all (reads ~everything)
        ly = self._scan_rows(spark, f"{base}/linear", y_cond)
        assert zy < ly, f"z-order y-scan {zy} not better than linear {ly}"

    def test_zorder_key_interleaves(self, spark):
        from warpdb_spark.sources.writers import zorder_key

        df = spark.createDataFrame(
            [(0, 0), (255, 255), (255, 0), (0, 255)], ["x", "y"]
        )
        z = df.select(
            "x", "y", zorder_key({"x": (0, 255), "y": (0, 255)}, bits=8).alias("z")
        ).collect()
        vals = {(r["x"], r["y"]): r["z"] for r in z}
        assert vals[(0, 0)] == 0
        assert vals[(255, 255)] == (1 << 16) - 1
        # x occupies even bit positions, y odd
        assert vals[(255, 0)] == sum(1 << (2 * i) for i in range(8))
        assert vals[(0, 255)] == sum(1 << (2 * i + 1) for i in range(8))


class TestCompaction:
    def test_compacts_small_files_preserving_data(self, spark, tmp_path_factory):
        from warpdb_spark.sources.writers import compact_table

        base = str(tmp_path_factory.mktemp("compact") / "t")
        df = spark.range(100_000).select(
            F.col("id"), (F.col("id") % 97).alias("k")
        )
        df.repartition(64).write.parquet(base)  # 64 tiny files
        before_sum = spark.read.parquet(base).agg(F.sum("id")).first()[0]
        stats = compact_table(spark, base, target_file_mb=128)
        assert stats["files_before"] >= 64
        assert stats["files_after"] < stats["files_before"]
        back = spark.read.parquet(base)
        assert back.count() == 100_000
        assert back.agg(F.sum("id")).first()[0] == before_sum

    def test_compaction_with_clustering(self, spark, tmp_path_factory):
        import glob

        import pyarrow.parquet as pq

        from warpdb_spark.sources.writers import compact_table

        base = str(tmp_path_factory.mktemp("compactc") / "t")
        spark.range(50_000).select(
            F.col("id"), ((F.col("id") * 48271) % 50_000).alias("ts")
        ).repartition(16).write.parquet(base)
        compact_table(spark, base, target_file_mb=1, sort_cols=["ts"])
        spans = []
        for f in glob.glob(f"{base}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(1)
                spans.append((col.statistics.min, col.statistics.max))
        spans.sort()
        for (_lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
            assert hi1 < lo2  # compaction restored disjoint clustering


class TestCsvHeaderRead:
    """A single uncompressed CSV's header is read straight from the file
    (no Spark job); it must name the same columns as Spark's text probe,
    which stays the path for directories and globs."""

    FILES = {
        "plain.csv": (b"price,quantity\n10.5,3\n", ","),
        "tabs.tsv": (b"price\tquantity\n10.5\t3\n", "\t"),
        "crlf.csv": (b"price, quantity\r\n10.5,3\r\n", ","),
        "cr.csv": (b"price,quantity\r10.5,3\r", ","),
        "bom.csv": (b"\xef\xbb\xbfprice,quantity\n10.5,3\n", ","),
        "no_newline.csv": (b"price,quantity", ","),
    }

    @pytest.fixture(scope="class")
    def csv_dir(self, tmp_path_factory):
        d = tmp_path_factory.mktemp("headers")
        for name, (data, _) in self.FILES.items():
            (d / name).write_bytes(data)
        parts = d / "parts"
        parts.mkdir()
        (parts / "p0.csv").write_text("price,quantity\n10.5,3\n")
        (parts / "p1.csv").write_text("price,quantity\n20.0,4\n")
        (d / "empty.csv").write_bytes(b"")
        (d / "_hidden.csv").write_text("price,quantity\n10.5,3\n")
        return d

    @pytest.mark.parametrize("name", sorted(FILES))
    def test_file_header_matches_spark_probe(self, spark, csv_dir, name):
        from warpdb_spark.sources.readers import _csv_header_columns, _file_head, _spark_head

        path = str(csv_dir / name)
        sep = self.FILES[name][1]
        assert _file_head(path) == _spark_head(spark, path)
        sc = spark.sparkContext
        sc.setJobGroup("header-read", "header read")
        try:
            cols = _csv_header_columns(spark, path, sep)
        finally:
            sc.setJobGroup(None, None)
        assert cols == ["price", "quantity"]
        assert list(sc.statusTracker().getJobIdsForGroup("header-read")) == []

    def test_directory_keeps_spark_probe(self, spark, csv_dir):
        from warpdb_spark.sources.readers import _csv_header_columns, _file_head

        path = str(csv_dir / "parts")
        assert _file_head(path) is None
        assert _csv_header_columns(spark, path) == ["price", "quantity"]
        assert load_table(spark, path, fmt="csv").count() == 2

    def test_empty_file_error_unchanged(self, spark, csv_dir):
        from warpdb_spark.sources.readers import _csv_header_columns, _file_head, _spark_head

        path = str(csv_dir / "empty.csv")
        assert _file_head(path) == _spark_head(spark, path) == []
        with pytest.raises(ValueError, match="Empty CSV file"):
            _csv_header_columns(spark, path)
        # Spark skips a hidden file even when it is named directly
        hidden = str(csv_dir / "_hidden.csv")
        assert _file_head(hidden) is None and _spark_head(spark, hidden) == []
        with pytest.raises(ValueError, match="Empty CSV file"):
            _csv_header_columns(spark, hidden)
