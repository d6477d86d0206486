"""Table sources/sinks — the engine's §2.1 surface.

The reference has no data sources (callers hand in an in-memory
DataFrame, base.py:28-39); the north rule mandates Iceberg transcript
tables. This module gives ONE code path for both worlds:

- ``load_table``  — Iceberg table ref when a catalog is configured,
  plain (partition-dir) parquet path otherwise. The returned DataFrame
  is identical either way, so every operator downstream is
  storage-agnostic.
- ``write_table`` — Iceberg ``writeTo`` when available, else parquet
  partitioned by the same columns (Hive-style ``col=value`` dirs —
  the layout Iceberg's migrate procedure ingests in place).
- ``ensure_schema`` — strict schema enforcement (names, order, types)
  so a job fails fast on drift instead of silently miscomputing.

Partition pruning: both paths expose partition columns to Catalyst
(Iceberg through its scan, parquet through Hive-style dirs), so a
``WHERE ds = ...`` prunes files before any I/O.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is on the classpath + configured.
    Detected once per session; cheap (a JVM class lookup, no I/O)."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def load_table(
    spark: SparkSession,
    ref: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Load ``ref`` as a DataFrame.

    ``ref`` forms:
    - ``iceberg:<catalog.db.table>`` — explicit Iceberg table ref
    - ``<catalog.db.table>`` (no slash) — table ref, Iceberg if present
    - ``/path/to/dir_or_file.parquet`` — parquet path (dev/test)
    """
    if ref.startswith("iceberg:"):
        df = spark.read.format("iceberg").load(ref[len("iceberg:") :])
    elif "/" not in ref and "." in ref:
        df = spark.table(ref)
    else:
        df = spark.read.parquet(ref)
    return ensure_schema(df, schema) if schema is not None else df


def read_delimited(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    delimiter: str = ",",
    header: bool = True,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = "_corrupt_record",
) -> DataFrame:
    """CSV/TSV ingest with an EXPLICIT schema — the crawl-manifest /
    vendor-dump side door next to the parquet/Iceberg main path.

    Schema inference is banned on purpose: at 100 TB a `.option(
    "inferSchema", true)` is a full extra pass over the data before
    the job starts, and a sampled inference can silently type a column
    differently between shards.  The caller supplies the StructType;
    malformed rows are captured (PERMISSIVE + ``corrupt_col``),
    dropped (DROPMALFORMED) or fatal (FAILFAST) — never silently
    coerced.  The corrupt column makes bad-row triage a normal
    DataFrame query instead of a log grep — but note Spark disallows
    queries that reference ONLY the internal corrupt-record column on
    an uncached CSV read: either ``df.cache()`` first, or select at
    least one data column alongside, e.g.
    ``df.select("some_col", corrupt_col).where(col(corrupt_col).isNotNull())``.

    Scale shape: Spark's CSV reader splits uncompressed files by byte
    range, so parallelism follows file size like parquet; the schema
    ships in the plan, not the data.
    """
    if mode not in ("PERMISSIVE", "DROPMALFORMED", "FAILFAST"):
        raise ValueError(f"unknown mode {mode!r}")
    read_schema = schema
    if mode == "PERMISSIVE" and corrupt_col:
        if corrupt_col not in [f.name for f in schema.fields]:
            read_schema = T.StructType(
                [*schema.fields, T.StructField(corrupt_col, T.StringType())]
            )
    reader = (
        spark.read.schema(read_schema)
        .option("header", str(header).lower())
        .option("sep", delimiter)
        .option("mode", mode)
    )
    if mode == "PERMISSIVE" and corrupt_col:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    return reader.csv(path)


def write_table(
    df: DataFrame,
    ref: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Write ``df`` to an Iceberg table or a partitioned parquet dir.

    Dynamic partition overwrite: re-running one day's slice replaces
    ONLY that day's partitions — the primitive checkpoint-resume and
    late-data re-runs are built on."""
    if ref.startswith("iceberg:"):
        w = df.writeTo(ref[len("iceberg:") :])
        if mode == "overwrite":
            w.overwritePartitions()
        else:
            w.append()
        return
    writer = df.write.mode(mode).option("partitionOverwriteMode", "dynamic")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(ref)


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str] | str,
    n_buckets: int = 256,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Write ``df`` as a hash-BUCKETED (and bucket-sorted) table on
    ``keys`` — the ingest-time co-location primitive.

    Why this exists at 100 TB: every stage of the transcript feature
    pipeline shuffles on ``conv_id`` (as-of join, window stack,
    sessionize, conversation_dedup).  Bucketing the table ONCE at
    ingest pays that shuffle exactly once — every later job's scan
    comes out already hash-clustered on the key, so equi-joins between
    two tables bucketed with the SAME count and groupBys on the bucket
    key plan with ZERO Exchange nodes (``tests/test_bucketed.py``).  ``sort_by`` (defaults to ``keys``)
    additionally sorts within buckets, letting sort-merge joins skip
    the per-task sort when files align.

    Sizing: pick ``n_buckets`` so a bucket is a few hundred MB at the
    corpus's full size (one task's comfortable working set), and keep
    it FIXED across tables that join together — co-location only
    applies when bucket counts match (Spark 3.1+ can coalesce a
    multiple-of relationship; identical counts are the portable rule).

    Storage notes: bucketing metadata lives in the catalog, so this
    uses ``saveAsTable`` (pass ``path`` for an external table).  A
    production deployment records it in the metastore / Iceberg
    (where the equivalent is a ``bucket(n, key)`` partition transform
    on the ``iceberg:`` path of write_table); the in-memory catalog
    used in tests keeps it for the session.  Plain ``.parquet()``
    writes CANNOT carry bucketing — that is a Spark limitation, not an
    engine choice.
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    if not key_list:
        raise ValueError("keys must be non-empty")
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(int(n_buckets), *key_list)
        .sortBy(*(sort_by or key_list))
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def ensure_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Enforce exact column names/order and cast to expected types;
    raise on missing columns (utils.py:53-72 validation analog)."""
    missing = [f.name for f in schema.fields if f.name not in df.columns]
    if missing:
        raise ValueError(f"input table missing columns: {missing}")
    return df.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])


_MERSENNE_61 = 2305843009213693951  # 2^61 - 1


def dataset_fingerprint(
    df: DataFrame,
    cols: list[str] | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Order- and partition-invariant content checksum: ONE row
    ``(n_rows, fingerprint)`` where ``fingerprint`` is the SUM of
    per-row hashes mod 2^61-1 — addition commutes, so any partitioning,
    row order, shuffle plan, or cluster size yields the identical
    value.  The snapshot-integrity primitive for 100 TB corpora: two
    exports match iff their fingerprints (and row counts) match,
    without sorting a single byte.

    ``hash_mode='xxhash64'`` hashes the typed columns directly (JVM
    fast path, null-safe); ``'md5'`` hashes a unit-separator-joined
    string rendering (NULL -> ``\\x00`` sentinel), exactly replayable
    in DuckDB/pandas for oracle verification — callers must pass
    columns with engine-stable string casts (ints/strings/dates/
    timestamps; avoid raw doubles).

    Scale shape: one scalar aggregate with map-side partial sums; the
    interim sum rides in DECIMAL(38,0) so no row count can overflow
    it (10^12 rows x 2^63 < 10^38).
    """
    from feature_engineering_tk_spark.operators.dedup import _hash60

    cols = cols or df.columns
    if hash_mode == "xxhash64":
        h = F.xxhash64(*[F.col(c) for c in cols])
    elif hash_mode == "md5":
        # unit-separator join: field boundaries never collide
        canon = F.concat_ws(
            "\x1f",
            *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols],
        )
        h = _hash60(canon)
    else:
        raise ValueError(f"unknown hash_mode: {hash_mode!r}")
    agg = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(h.cast("decimal(38,0)")).alias("_s"),
    )
    p = F.lit(_MERSENNE_61).cast("decimal(38,0)")
    return agg.select(
        "n_rows",
        F.coalesce(
            F.pmod(F.col("_s"), p).cast("long"), F.lit(0).cast("long")
        ).alias("fingerprint"),
    )
