"""File-format dispatch readers.

Reference behavior being re-expressed (SURVEY §2.1):

- extension-based routing csv/json/parquet/arrow/feather/orc with an
  error for anything else (src/warpdb.cpp:159-190);
- CSV: column names from the header row, types from an optional
  *positional* schema list, default all-Float32 when absent
  (src/csv_loader.cpp:49-124);
- NDJSON: the reference only extracts hardcoded ``price``/``quantity``
  fields (src/json_loader.cpp:23-45) — generalized here to full
  schema-on-read;
- Parquet/Arrow-IPC/ORC via Arrow readers (src/arrow_loader.cpp:100-126).

All readers return lazy DataFrames so Catalyst gets pushdown/pruning;
nothing is materialized on the driver except the one-line CSV header
probe (bounded, scale-safe; read straight from the file where it is a
single uncompressed file).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Positional schema tokens accepted where the reference takes
# vector<DataType> (include/warpdb.hpp:13-14, include/csv_loader.hpp:13).
_TYPE_ALIASES: dict[str, T.DataType] = {
    "int32": T.IntegerType(),
    "int": T.IntegerType(),
    "int64": T.LongType(),
    "long": T.LongType(),
    "bigint": T.LongType(),
    "float32": T.FloatType(),
    "float": T.FloatType(),
    "float64": T.DoubleType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "bool": T.BooleanType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "binary": T.BinaryType(),
}


def _resolve_type(t) -> T.DataType:
    if isinstance(t, T.DataType):
        return t
    try:
        return _TYPE_ALIASES[str(t).lower()]
    except KeyError:
        raise ValueError(f"Unknown schema type: {t!r}")


# Hadoop picks a decompression codec by suffix; such files go to Spark.
_CODEC_SUFFIXES = (".gz", ".bz2", ".deflate", ".lz4", ".snappy", ".zst", ".xz", ".br")


def _spark_head(spark: SparkSession, path: str) -> list[str]:
    """The first line Spark's text reader yields (limit(1) prunes the
    scan), as a 0- or 1-item list."""
    return [r[0] for r in spark.read.text(path).limit(1).collect()]


def _file_head(path: str) -> list[str] | None:
    """The first line of a single uncompressed file, read through
    pyarrow's filesystem without a Spark job, as a 0- or 1-item list.
    Lines end at ``\n``, ``\r`` or ``\r\n`` and a leading UTF-8 BOM is
    dropped, as in Hadoop's line reader. None where only Spark's reader
    applies: directories, globs, compressed files, hidden files (``_``
    or ``.`` names, which Spark reads as empty even when named
    directly), and anything pyarrow cannot open."""
    name = os.path.basename(path.rstrip("/"))
    if (
        any(ch in path for ch in "*?[{")
        or name.startswith(("_", "."))
        or name.lower().endswith(_CODEC_SUFFIXES)
    ):
        return None
    try:
        from pyarrow import fs as pafs

        fs, fs_path = _ipc_filesystem(path)
        if fs.get_file_info(fs_path).type != pafs.FileType.File:
            return None
        head = b""
        with fs.open_input_stream(fs_path) as f:
            while not (b"\n" in head or b"\r" in head):
                block = f.read(1 << 16)
                if not block:
                    break
                head += block
    except Exception:  # noqa: BLE001 — unknown scheme, no access: Spark decides
        return None
    if not head:
        return []
    head = head.removeprefix(b"\xef\xbb\xbf")
    line = re.split(rb"\r|\n", head, maxsplit=1)[0]
    return [line.decode("utf-8", errors="replace")]


def _csv_header_columns(spark: SparkSession, path: str, sep: str = ",") -> list[str]:
    """Column names from the header line. A single local or URI file is
    read directly (a Spark probe job costs ~0.1 s); directories, globs
    and compressed files keep the Spark probe."""
    head = _file_head(path)
    if head is None:
        head = _spark_head(spark, path)
    if not head:
        raise ValueError(f"Empty CSV file: {path}")
    return [c.strip() for c in head[0].split(sep)]


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    sep: str = ",",
    infer: bool = False,
    **options,
) -> DataFrame:
    """CSV scan with the reference's schema rules.

    ``schema`` may be: None (reference default: every column Float32 —
    src/csv_loader.cpp:68 — unless ``infer=True``), a positional list of
    types validated against header arity (src/csv_loader.cpp:65-67), or
    a full StructType.
    """
    reader = spark.read.options(**options).option("header", header).option("sep", sep)
    if isinstance(schema, T.StructType):
        return reader.schema(schema).csv(path)
    if schema is not None:
        cols = _csv_header_columns(spark, path, sep)
        types = [_resolve_type(t) for t in schema]
        if len(types) != len(cols):
            raise ValueError(
                f"Schema size mismatch: {len(types)} types for {len(cols)} columns"
            )
        struct = T.StructType([T.StructField(c, t, True) for c, t in zip(cols, types)])
        return reader.schema(struct).csv(path)
    if infer:
        return reader.option("inferSchema", True).csv(path)
    cols = _csv_header_columns(spark, path, sep)
    struct = T.StructType([T.StructField(c, T.FloatType(), True) for c in cols])
    return reader.schema(struct).csv(path)


def read_json(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    """NDJSON scan, generalized from the reference's two-field extractor."""
    reader = spark.read.options(**options)
    if isinstance(schema, T.StructType):
        reader = reader.schema(schema)
    return reader.json(path)


def read_parquet(spark: SparkSession, path: str, **options) -> DataFrame:
    return spark.read.options(**options).parquet(path)


#: (applicationId, path, mtime_ns, size) -> lazy reader DataFrame.
#: METADATA memo only — see :func:`cached_table`.
_TABLE_CACHE: dict[tuple, DataFrame] = {}


def cached_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Session-keyed memo of the lazy reader DataFrame for one of the
    benchmark tables (r12 optimization, guide §1/§6 measurement).

    Every ``spark.read.parquet`` costs ~0.1s on this sandbox: a driver
    round trip, a fresh InMemoryFileIndex, and a one-task footer-read
    job for schema inference. A bench pass constructs ~30 table reads,
    so repeated entry construction pays ~3s of pure metadata work per
    pass. This memo caches the *unresolved scan plan + schema* — never
    data, never results: execution always re-reads the parquet file.
    The key carries the Spark applicationId (a new session misses — the
    stale-session failure mode the r11 advice flagged for the scale_ops
    caches) and the file's mtime/size (a rewritten file misses). Paths
    the local os.stat cannot see (hdfs://, s3://) skip the memo
    entirely and behave exactly as before.

    ``events`` keeps its historical handling: the ns-timestamp legacy
    conf is (re)applied per call — conf.set is idempotent and cheap —
    and the cached frame is the post-``ns_to_timestamp`` projection.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        st = os.stat(path)
        app_id = spark.sparkContext.applicationId
        key = (app_id, path, st.st_mtime_ns, st.st_size)
    except Exception:  # noqa: BLE001 — non-local path / stopped context
        key = None
    if key is not None:
        hit = _TABLE_CACHE.get(key)
        if hit is not None:
            return hit
    df = spark.read.parquet(path)
    if name == "events":
        df = ns_to_timestamp(df, "ts")
    if key is not None:
        # evict other sessions' entries so a long test run never holds
        # DataFrames bound to stopped SparkContexts
        for k in [k for k in _TABLE_CACHE if k[0] != key[0]]:
            del _TABLE_CACHE[k]
        _TABLE_CACHE[key] = df
    return df


def ns_to_timestamp(df: DataFrame, *cols: str) -> DataFrame:
    """Normalize event-time columns to session-TZ TIMESTAMP regardless of
    how the parquet stored them. Schema-adaptive on the column's actual
    Spark dtype:

    - ``bigint``        — epoch-nanosecond longs (parquet TIMESTAMP(NANOS)
      surfaced under ``spark.sql.legacy.parquet.nanosAsLong=true``):
      integer-DIV by 1000 → ``timestamp_micros`` (float division of
      epoch-ns overflows the double mantissa and shifts by ±1 µs);
    - ``timestamp_ntz`` — parquet ``timestamp[us]`` without TZ: cast to
      TIMESTAMP, interpreting the wall time in the session TZ (callers
      pin UTC so results are session-independent);
    - ``timestamp``     — already TIMESTAMP_LTZ: no-op.

    This keeps every consumer working whether the testdata stores ns
    longs (rounds 1-2) or µs timestamps (current) — the column always
    comes out as TIMESTAMP in any SparkSession with no legacy confs
    required.
    """
    from pyspark.sql import functions as F

    dtypes = dict(df.dtypes)
    for c in cols:
        dt = dtypes.get(c)
        if dt is None:
            raise ValueError(f"ns_to_timestamp: column {c!r} not in {sorted(dtypes)}")
        if dt in ("bigint", "long", "int"):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
        elif dt != "timestamp":
            # a NEW encoding drift must fail here, at the reader, not as
            # a type mismatch deep inside some window/join (the round-2
            # regression was exactly this class)
            raise TypeError(
                f"ns_to_timestamp: unsupported event-time dtype {dt!r} for column {c!r}"
            )
        # "timestamp" (already LTZ): leave untouched
    return df


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    return spark.read.options(**options).orc(path)


def read_arrow(spark: SparkSession, path: str) -> DataFrame:
    """Arrow/Feather IPC scan (src/arrow_loader.cpp:110-118).

    A single FILE matches the reference's single-machine interchange
    scope: opened with pyarrow on the driver and handed to
    ``createDataFrame`` (Arrow-path, zero row-by-row conversion). A
    DIRECTORY routes to ``read_arrow_dir`` — the distributed path
    (r10 verdict item 6) that decodes each file inside the executors.
    """
    import pyarrow.ipc as ipc
    from pyarrow import fs as pafs

    fs, fs_path = _ipc_filesystem(path)
    if fs.get_file_info(fs_path).type == pafs.FileType.Directory:
        return read_arrow_dir(spark, path)
    with fs.open_input_file(fs_path) as f, ipc.open_file(f) as reader:
        table = reader.read_all()
    return spark.createDataFrame(table)


def _open_ipc(buf):
    """An IPC reader for a bytes payload: random-access FILE format
    first, STREAM format fallback (both are valid ``.arrow`` spellings)."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    try:
        return ipc.open_file(pa.BufferReader(buf))
    except pa.ArrowInvalid:
        return ipc.open_stream(pa.BufferReader(buf))


def _expand_braces(pattern: str) -> list[str]:
    """Expand Hadoop-glob ``{a,b}`` alternation into fnmatch-able
    patterns (fnmatch has no brace syntax)."""
    m = re.match(r"(.*)\{([^}]*)\}(.*)", pattern)
    if m is None:
        return [pattern]
    pre, alts, post = m.groups()
    out: list[str] = []
    for alt in alts.split(","):
        out.extend(_expand_braces(pre + alt + post))
    return out


def _ipc_filesystem(path: str):
    """(pyarrow filesystem, in-filesystem path) for a URI or a plain
    local path — the same URI space Spark's binaryFile reads, so the
    driver-side listing/schema probe can't disagree with the executors
    about what exists (r11 advice: a driver-local glob found nothing on
    hdfs:// / s3:// even though binaryFile could read it)."""
    from pyarrow import fs as pafs

    try:
        return pafs.FileSystem.from_uri(path)
    except Exception:  # no scheme: a plain local path
        return pafs.LocalFileSystem(), os.path.abspath(path)


def read_arrow_dir(
    spark: SparkSession, path: str, pattern: str = "*.{arrow,feather}"
) -> DataFrame:
    """Distributed Arrow/Feather IPC DIRECTORY scan: files land in
    executors via Spark's ``binaryFile`` source (one row per file,
    grouped into tasks by ``maxPartitionBytes``) and each file decodes
    to record batches inside ``mapInArrow`` — partition-parallel, no
    driver materialization, closing SURVEY §2.1's last single-machine
    source (reference scope: src/arrow_loader.cpp:110-118).

    ``path`` may be a local directory or any filesystem URI pyarrow.fs
    resolves (``file://``, ``hdfs://``, ``s3://``); the listing and the
    schema probe go through that same filesystem, never a driver-local
    glob. ``pattern`` is Hadoop glob syntax (brace alternation
    supported); the default matches both ``.arrow`` and ``.feather``
    (Feather v2 IS IPC-file format), and stream-format payloads are
    accepted too.

    The output schema is read once from the lexicographically first
    file's FOOTER on the driver (metadata-only open, no data read);
    every file must match it exactly — a drifted file raises with its
    schema in the error rather than silently coercing."""
    import fnmatch

    import pyarrow as pa
    import pyarrow.ipc as ipc
    from pyarrow import fs as pafs
    from pyspark.sql.pandas.types import from_arrow_schema

    fs, fs_path = _ipc_filesystem(path)
    alts = _expand_braces(pattern)
    infos = fs.get_file_info(pafs.FileSelector(fs_path))
    files = sorted(
        i.path
        for i in infos
        if i.type == pafs.FileType.File
        and any(fnmatch.fnmatch(os.path.basename(i.path), p) for p in alts)
    )
    if not files:
        raise ValueError(f"No IPC files matching {pattern!r} under {path}")
    with fs.open_input_file(files[0]) as f0:
        try:
            arrow_schema = ipc.open_file(f0).schema
        except pa.ArrowInvalid:  # stream-format: schema is at the head
            f0.seek(0)
            arrow_schema = ipc.open_stream(f0).schema
    spark_schema = from_arrow_schema(arrow_schema)

    def decode(batches):
        for batch in batches:
            # binaryFile rows: (path, modificationTime, length, content)
            paths = batch.column("path").to_pylist()
            contents = batch.column("content")
            for fpath, buf in zip(paths, contents):
                reader = _open_ipc(buf.as_py())
                if reader.schema != arrow_schema:
                    raise ValueError(
                        f"IPC schema drift in {fpath}: expected "
                        f"{arrow_schema}, got {reader.schema}"
                    )
                if hasattr(reader, "num_record_batches"):  # file format
                    for i in range(reader.num_record_batches):
                        yield reader.get_batch(i)
                else:  # stream format
                    for rb in reader:
                        yield rb

    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(path)
    )
    return blobs.mapInArrow(decode, spark_schema)


_DISPATCH = {
    ".csv": "csv",
    ".tsv": "csv",
    ".json": "json",
    ".ndjson": "json",
    ".jsonl": "json",
    ".parquet": "parquet",
    ".arrow": "arrow",
    ".feather": "arrow",
    ".orc": "orc",
}


def load_table(spark: SparkSession, path: str, schema=None, fmt: str | None = None, **options) -> DataFrame:
    """Extension-dispatch loader — the Spark analog of the ``WarpDB``
    constructor's routing (src/warpdb.cpp:159-190)."""
    if fmt is None:
        ext = os.path.splitext(path.rstrip("/"))[1].lower()
        fmt = _DISPATCH.get(ext)
        if fmt is None:
            raise ValueError(f"Unsupported file type: {path}")
    fmt = fmt.lower()
    if fmt == "csv":
        sep = "\t" if path.endswith(".tsv") else options.pop("sep", ",")
        return read_csv(spark, path, schema=schema, sep=sep, **options)
    if fmt == "json":
        return read_json(spark, path, schema=schema, **options)
    if fmt == "parquet":
        return read_parquet(spark, path, **options)
    if fmt == "arrow":
        return read_arrow(spark, path)
    if fmt == "orc":
        return read_orc(spark, path, **options)
    raise ValueError(f"Unsupported file type: {path}")
