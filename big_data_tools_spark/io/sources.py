"""Sources: Parquet / JSON readers with explicit schemas.

Reference surface covered (SURVEY.md §2.1):
- S1 multiline JSON (``Databricks Notebook.py:34,62,80,108``)
- S2 line-delimited JSON (``:48,94``)
- S3 path config (``:14-19``) → parameterized ``sf_dir``

Engine policy: explicit schema whenever known (inference = extra full
scan at 100 TB); Parquet is the canonical format for driver testdata.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import TABLE_SCHEMAS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Spark's inferred schema of each parquet file read by load_table, keyed
# on the path and validated against the file's size, mtime and the confs
# that steer inference; it outlives sessions (a StructType is plain data).
# Concurrent misses on one file each infer and store the same schema.
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}
_INFER_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
)


def _read_parquet(
    spark: SparkSession, path: str, infer_conf: dict[str, str] | None = None
) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the file's schema once.

    Inference launches a Spark job per read (a short query spent as long
    building its DataFrame as running it). The first read of a local
    file infers as usual, with ``infer_conf`` set for the inference
    only; later reads of the same unchanged file pass the memoised
    schema and plan without a job. It is Spark's own inference, not a
    declared schema, so types and failures are those of a plain read.
    Paths that are not local regular files are inferred every time.
    """
    infer_conf = infer_conf or {}
    stamp = None
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is not None and stat.S_ISREG(st.st_mode):
        confs = tuple(infer_conf.get(k) or spark.conf.get(k) for k in _INFER_CONFS)
        stamp = (st.st_size, st.st_mtime_ns, confs)
        hit = _SCHEMAS.get(path)
        if hit is not None and hit[0] == stamp:
            return spark.read.schema(hit[1]).parquet(path)
    prev = {k: spark.conf.get(k, None) for k in infer_conf}
    for k, v in infer_conf.items():
        spark.conf.set(k, v)
    try:
        df = spark.read.parquet(path)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    if stamp is not None:
        _SCHEMAS[path] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table from ``{sf_dir}/{name}.parquet``.

    Parquet is self-describing, so the schema is Spark's inference
    (memoised per file by :func:`_read_parquet`); the declared schema
    in :mod:`schemas` documents it, and tests/test_sources_memo.py
    asserts the two agree on the driver testdata.

    The events table stores ``ts`` as TIMESTAMP(NANOS), which Spark's
    parquet reader rejects; we read nanos as long (runtime legacy conf)
    and convert to a microsecond timestamp in the plan — same instant,
    truncated like DuckDB's ns->us conversion, so oracle checks agree.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return _read_parquet(spark, path)
    # Parquet TIMESTAMP(isAdjustedToUTC=false) would otherwise infer as
    # TIMESTAMP_NTZ (Spark >=3.4 default), which cannot be epoch-cast and
    # whose downstream date_trunc/window semantics depend on nothing we
    # can pin. Reading it as LTZ treats the stored int64 micros as UTC
    # instants — session-timezone-independent, and exactly how DuckDB's
    # epoch() sees the same file. The NTZ-inference conf is SCOPED to
    # the inference, so other tables' timestamp dtype never depends on
    # whether events loaded earlier in the session. nanosAsLong is what
    # lets inference accept TIMESTAMP(NANOS) (as bigint). It stays
    # sticky and is set on every load, hit or miss, so the session's
    # confs after a load do not depend on the memo.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(
        spark, path, {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"}
    )
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        # integer div, NOT /1000+cast: nano epochs (~1.7e18) exceed
        # double's 2^53 mantissa, so float division rounds the µs
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        # fallback if the conf is ignored; correct under UTC session tz
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or tuple(TABLE_SCHEMAS))}


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    multiline: bool = False,
) -> DataFrame:
    """JSON source covering the reference's two read shapes (S1/S2).

    With ``multiline=True`` each file parses as one record stream —
    effectively one partition per file (the reference pays this on four
    tables); keep multiline files small or split upstream at scale.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if multiline:
        reader = reader.option("multiline", "true")
    return reader.json(path)


def read_json_chunked(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    target_chunk_bytes: int = 32 << 20,
) -> DataFrame:
    """Parallel reader for a single large top-level JSON ARRAY file —
    the one ingest shape ``read_json(multiline=True)`` cannot
    parallelize (one record stream => one partition per file,
    documented in SCALING.md; the reference pays this on four tables).

    Two-phase split (VERDICT r6 ask #7):

    1. **Boundary scan** (executor task, one sequential pass, no JSON
       parse): a quote/escape/depth-aware character scan finds the
       byte offsets of top-level element boundaries closest to every
       ``target_chunk_bytes`` stride. This is the only serial step,
       IO-bound at GB/s — correctness requires it, since an arbitrary
       byte offset cannot be classified as in/out of a JSON string
       without left context.
    2. **Distributed parse**: each (start, end) chunk becomes one task
       that reads only its byte range and emits the whole elements in
       it; Spark's JSON parser (the expensive part — 10-100x the scan
       cost) then runs over ``n_chunks`` partitions in parallel.

    Rows match ``read_json(multiline=True)`` exactly; the result has
    ``>= min(n_chunks, ...)`` input partitions (pinned in
    tests/test_sources_chunked.py).
    """
    sc = spark.sparkContext

    def scan_boundaries(paths):
        for p in paths:
            bounds: list[int] = []
            size = 0
            depth = 0
            in_str = False
            esc = False
            seen_open = False
            next_cut = target_chunk_bytes
            with open(p, "rb") as fh:
                data = fh.read()
            size = len(data)
            for i, b in enumerate(data):
                c = chr(b)
                if esc:
                    esc = False
                    continue
                if in_str:
                    if c == "\\":
                        esc = True
                    elif c == '"':
                        in_str = False
                    continue
                if c == '"':
                    in_str = True
                elif c in "[{":
                    if not seen_open:
                        seen_open = True  # the outer array bracket
                        bounds.append(i + 1)
                    depth += 1
                elif c in "]}":
                    depth -= 1
                    # depth 1 = back at top level, a whole element just
                    # closed; cut here once past the stride
                    if depth == 1 and i >= next_cut:
                        bounds.append(i + 1)
                        next_cut = i + target_chunk_bytes
            bounds.append(size)
            yield (p, bounds)

    file_bounds = (
        sc.parallelize([path], 1).mapPartitions(lambda it: scan_boundaries(it))
    ).collect()
    ranges = []
    for p, bounds in file_bounds:
        for a, b in zip(bounds, bounds[1:]):
            ranges.append((p, a, b))

    def parse_range(rows):
        # emit RAW element text (no Python-side JSON parse): split the
        # slice at depth-0 commas with the same quote/escape-aware
        # scan, so Spark's parser sees byte-identical element source
        # and numeric round-trip parity with multiline mode is exact
        for r in rows:
            with open(r.path, "rb") as fh:
                fh.seek(r.start)
                blob = fh.read(r.end - r.start).decode("utf-8")
            blob = blob.rstrip().rstrip("]")
            depth = 0
            in_str = False
            esc = False
            piece_start = 0
            pieces = []
            for i, c in enumerate(blob):
                if esc:
                    esc = False
                    continue
                if in_str:
                    if c == "\\":
                        esc = True
                    elif c == '"':
                        in_str = False
                    continue
                if c == '"':
                    in_str = True
                elif c in "[{":
                    depth += 1
                elif c in "]}":
                    depth -= 1
                elif c == "," and depth == 0:
                    pieces.append(blob[piece_start:i])
                    piece_start = i + 1
            pieces.append(blob[piece_start:])
            for p in pieces:
                p = p.strip()
                if p:
                    yield (p,)

    rdf = spark.createDataFrame(ranges, "path string, start long, end long")
    els = (
        rdf.repartition(max(len(ranges), 1))
        .rdd.mapPartitions(parse_range)
    )
    strings = els.map(lambda t: t[0])
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(strings)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    delimiter: str = ",",
    mode: str = "PERMISSIVE",
    timestamp_format: str | None = None,
) -> DataFrame:
    """CSV source (engine addition beyond the reference's JSON-only
    surface). Explicit schema strongly preferred: header-based
    inference costs an extra scan AND types everything it can't parse
    as string. ``mode`` follows Spark semantics — PERMISSIVE nulls bad
    fields (pair with a corrupt-record column for auditing),
    DROPMALFORMED drops rows, FAILFAST throws.
    """
    reader = (
        spark.read.option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("mode", mode)
    )
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """XML source (Spark 4 native, no external package): one row per
    ``row_tag`` element. Same explicit-schema policy as JSON/CSV —
    inference costs a full extra scan at scale; nested elements
    surface as structs/arrays exactly like JSON's."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


_CORRUPT_COL = "_corrupt_record"


def read_json_audited(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    multiline: bool = False,
    corrupt_col: str = _CORRUPT_COL,
) -> DataFrame:
    """PERMISSIVE JSON read that CAPTURES malformed records instead of
    silently nulling them: the declared schema is extended with a
    corrupt-record column holding the raw text of any row that failed
    to parse (Spark's columnNameOfCorruptRecord contract — the column
    must be in the schema to be populated, a detail plain
    ``read_json`` callers routinely miss). Pair with
    :func:`split_quarantine` to route bad rows to a quarantine sink
    instead of poisoning downstream aggregates with nulls.

    Scale note: zero extra passes — corrupt capture rides the same
    scan; FAILFAST (which kills a 10-hour job on row 9 billion) is for
    dev, this is for production ingestion.
    """
    if corrupt_col in [f.name for f in schema.fields]:
        raise ValueError(f"schema already contains {corrupt_col!r}")
    audited = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    reader = (
        spark.read.schema(audited)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    if multiline:
        reader = reader.option("multiline", "true")
    return reader.json(path)


def read_csv_audited(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    delimiter: str = ",",
    corrupt_col: str = _CORRUPT_COL,
) -> DataFrame:
    """PERMISSIVE CSV read with corrupt-record capture (see
    :func:`read_json_audited`)."""
    if corrupt_col in [f.name for f in schema.fields]:
        raise ValueError(f"schema already contains {corrupt_col!r}")
    audited = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    return (
        spark.read.schema(audited)
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path)
    )


def split_quarantine(
    df: DataFrame, corrupt_col: str = _CORRUPT_COL
) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine) split of an audited read: clean rows with
    the audit column dropped, and the raw text of every malformed row.

    The parse is persisted first — Spark refuses queries whose only
    referenced file column is the internal corrupt-record column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN); the
    documented contract is to cache the parsed result, which also
    means the file parses ONCE for both sides. Both outputs carry the
    cache tag — release via ``operators.cache.release_caches`` after
    the sinks are written."""
    from pyspark.sql import functions as F

    from ..operators.cache import track_cache

    parsed = df.persist()
    clean = parsed.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = parsed.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_record")
    )
    return track_cache(clean, parsed), track_cache(bad, parsed)


def ingest_audit(df: DataFrame, corrupt_col: str = _CORRUPT_COL) -> DataFrame:
    """One-pass ingestion health report: (n_rows, n_corrupt,
    corrupt_pct). The aggregate references a real data column alongside
    the corrupt column, so it runs directly against the raw scan (no
    cache needed — see :func:`split_quarantine` for why that matters)."""
    from pyspark.sql import functions as F

    data_cols = [c for c in df.columns if c != corrupt_col]
    if not data_cols:
        raise ValueError("audited frame has no data columns")
    n_corrupt = F.sum(F.when(F.col(corrupt_col).isNotNull(), 1).otherwise(0))
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        n_corrupt.alias("n_corrupt"),
        F.round(100.0 * n_corrupt / F.count(F.lit(1)), 4).alias("corrupt_pct"),
        # referencing a real column keeps the corrupt-only-query rule
        # satisfied without forcing a cache; it doubles as a parse-health
        # signal (how many rows produced this field at all)
        F.count(F.col(data_cols[0])).alias(f"n_{data_cols[0]}_parsed"),
    )
