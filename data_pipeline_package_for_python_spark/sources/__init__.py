"""Sources & sinks (SURVEY §2.2.1).

Thin, disciplined facades over ``spark.read`` / ``df.write``: the value-add
is consistent defaults (header/schema handling, overwrite semantics,
partitioned layouts) and the scale notes living in one place.

At 100 TB the decisions that matter are made HERE:
- parquet with partitioned directory layout → static + dynamic partition
  pruning (Catalyst's DPP) prune entire directory trees at plan time;
- explicit schemas on text formats (csv/json) → no sampling pass over the
  input just to infer types;
- ``maxRecordsPerFile`` guards against single-file hotspots on skewed
  partition columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..session import scoped_conf

__all__ = [
    "TPCH_TABLES",
    "load_tables",
    "prepare_media_dir",
    "read_binary_files",
    "read_csv",
    "read_events",
    "read_jdbc",
    "read_json",
    "read_orc",
    "read_parquet",
    "from_rows",
    "write_bucketed",
    "write_csv",
    "write_jdbc",
    "write_json",
    "write_parquet",
    "write_sorted_layout",
    "write_zorder_layout",
    "zorder_value",
]

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """The ``events`` parquet table with ``ts`` as a plain TIMESTAMP
    (the session TZ is pinned to UTC), whatever the fixture wrote."""
    # * TIMESTAMP_NS parquet is rejected by default (PARQUET_TYPE_ILLEGAL):
    #   read nanos as long, floor-divide to µs — exactly DuckDB's
    #   CAST(TIMESTAMP_NS AS TIMESTAMP);
    # * µs parquet with isAdjustedToUTC=false infers TIMESTAMP_NTZ: cast
    #   to TIMESTAMP (value-preserving under the UTC session).
    # The legacy flag is consumed at schema resolution, so it is scoped
    # around the read alone; executing the frame later needs no override.
    from pyspark.sql import functions as F

    with scoped_conf(spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"}):
        df = spark.read.parquet(path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    *,
    header: bool = True,
    timestamp_format: str | None = None,
    **options,
) -> DataFrame:
    reader = spark.read.option("header", header)
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        # Inference costs a full extra pass over the data — acceptable in
        # tests, never in production paths; callers at scale pass a schema.
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    **options,
) -> DataFrame:
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    *,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Raw-file ingestion via Spark's ``binaryFile`` source: one row per
    file with (path, modificationTime, length, content BINARY).

    This is the front door for multimodal corpora — images/audio/video
    land as opaque payload bytes plus provenance, then flow into
    ``operators.multimodal.media_table`` for content addressing and the
    Arrow decode path.  Scale notes: listing parallelizes across the
    driver's listing threads and the files split one-per-row (a payload
    is never split), so partition sizing is governed by
    ``spark.sql.files.maxPartitionBytes`` against whole files; tiny-file
    corpora should be compacted (the sink side of this facade is a
    parquet table with a BINARY column, not millions of loose files).
    ``glob`` maps to ``pathGlobFilter`` (pushed into the file index —
    non-matching files are never listed into tasks)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)


def prepare_media_dir(
    spark: SparkSession,
    sf_dir: str,
    n_docs: int = 64,
    base: str | None = None,
) -> str:
    """Stage the first ``n_docs`` documents (by doc_id) as individual
    ``{doc_id}.bin`` files so the ``binaryFile`` source has a real
    directory of loose files to ingest.  Harness-only fixture staging
    (mirrors ``streaming.prepare_events_stream_dir``): the tiny
    driver-side write loop is the STAGING, not the operator under test
    — the read-back and content verification are fully distributed.
    Cached per (sf_dir, n_docs) via a marker file."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    base = base or os.path.join(tempfile.gettempdir(), "dpp_media_src")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = os.path.join(base, f"{tag}_media_{n_docs}")
    marker = os.path.join(out, "_STAGED")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    rows = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(n_docs)
        .collect()
    )
    for r in rows:
        with open(os.path.join(out, f"{r['doc_id']}.bin"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    with open(marker, "w") as f:
        f.write(str(len(rows)))
    return out


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    partition_column: str | None = None,
    lower_bound: int | str | None = None,
    upper_bound: int | str | None = None,
    num_partitions: int | None = None,
    fetchsize: int = 10_000,
    properties: dict | None = None,
) -> DataFrame:
    """JDBC source facade (SURVEY §2.2.1, optional row).

    Scale contract: WITHOUT ``partition_column`` + bounds +
    ``num_partitions`` Spark reads the whole table through ONE
    connection on one executor — fine for a dim lookup, catastrophic
    for a fact table.  With them, Spark issues ``num_partitions`` range
    predicates in parallel; pick a clustered/indexed numeric or date
    column so each range is a server-side index scan.  Catalyst pushes
    projected columns and filters into the generated SQL.

    Exercised LIVE by ``tests/test_sources_jdbc.py`` and the
    ``scan_jdbc_roundtrip`` registry query against the Derby engine
    embedded in Spark's distribution (round-trip, partitioned parallel
    read, append/overwrite) — no external server required.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", fetchsize)
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None or not num_partitions:
            raise ValueError(
                "partition_column requires lower_bound, upper_bound "
                "and num_partitions"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", num_partitions)
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "append",
    batchsize: int = 10_000,
    num_partitions: int | None = None,
    properties: dict | None = None,
) -> None:
    """JDBC sink facade: batched inserts, one connection per partition.

    ``num_partitions`` coalesces before writing — most databases fall
    over long before 1000 concurrent inserting connections, so cap it
    to what the server actually sustains."""
    out = df.coalesce(num_partitions) if num_partitions else df
    writer = (
        out.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", batchsize)
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def from_rows(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """In-memory source; schema is mandatory (no inference surprises)."""
    return spark.createDataFrame(rows, schema)


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def write_csv(
    df: DataFrame,
    path: str,
    *,
    header: bool = True,
    mode: str = "overwrite",
    timestamp_format: str | None = None,
) -> None:
    writer = df.write.mode(mode).option("header", header)
    if timestamp_format:
        writer = writer.option("timestampFormat", timestamp_format)
    writer.csv(path)


def write_json(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the standard fixture tables from a scale-factor directory."""
    return {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in TPCH_TABLES}


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_by: str | list[str],
    n_buckets: int,
    sort_by: str | list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) catalog table.

    THE co-location primitive at 100 TB: two tables bucketed on the same
    key into the same bucket count join with ZERO exchanges — the shuffle
    was paid once at write time and amortizes over every subsequent join
    or aggregation on that key (``tests/test_bucketing.py`` pins the
    shuffle-free plan).  ``sort_by`` additionally pre-sorts each bucket
    file so sort-merge joins skip their sort.

    Bucketing requires the catalog (``saveAsTable``) — bucket metadata
    lives there, a bare ``.parquet(path)`` cannot carry it.  ``path``
    makes it an external table at that location (the warehouse dir is
    static config and cannot be chosen per-write).
    """
    bucket_by = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    writer = df.write.mode(mode).format(fmt).bucketBy(n_buckets, *bucket_by)
    if path is not None:
        writer = writer.option("path", path)
    if sort_by is not None:
        sort_by = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def write_sorted_layout(
    df: DataFrame,
    path: str,
    *,
    layout_by: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-partition and sort the data by ``layout_by`` before writing.

    Clustering rows that are scanned together (e.g. by date, then key)
    gives parquet min/max row-group statistics real pruning power: a
    point/range predicate on the layout columns skips whole files and row
    groups instead of reading 100 TB to filter it.  This is the poor
    man's Z-order — exact for prefix predicates on ``layout_by``.
    """
    out = (
        df.repartitionByRange(n_files, *layout_by)
        if n_files
        else df.repartitionByRange(*layout_by)
    )
    out.sortWithinPartitions(*layout_by).write.mode(mode).parquet(path)


def zorder_value(
    df: DataFrame,
    cols: list[str],
    *,
    bits: int = 8,
    rel_err: float = 0.01,
):
    """Build the interleaved Z-value Column for ``cols`` (numeric).

    Per column: quantile boundaries (``approxQuantile`` — a distributed
    sample whose driver footprint is ≤2^bits doubles at ANY input
    size, the same class of stats pass AQE runs) bucketize values into
    2^bits rank-based buckets, robust to skew where min/max-uniform
    buckets collapse.  The per-row bucket index is a JVM higher-order
    ``aggregate`` over the boundary array (≤256 codegen comparisons per
    row, no Python).  Bucket bits then interleave round-robin across
    columns — the classic Morton curve — so a range predicate on ANY
    single column maps to a bounded set of Z-ranges.

    Returns (zcol, boundaries) — boundaries exposed for tests.
    """
    from pyspark.sql import functions as F

    n_b = 1 << bits
    zparts = []
    all_bounds = {}
    for ci, c in enumerate(cols):
        probs = [i / n_b for i in range(1, n_b)]
        bounds = df.stat.approxQuantile(c, probs, rel_err)
        all_bounds[c] = bounds
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        bucket = F.aggregate(
            arr,
            F.lit(0),
            lambda acc, b: acc
            + F.when(F.col(c).cast("double") >= b, 1).otherwise(0),
        )
        for j in range(bits):
            zparts.append(
                F.shiftleft(
                    F.shiftright(bucket, j).bitwiseAND(F.lit(1)),
                    len(cols) * j + ci,
                )
            )
    z = zparts[0]
    for p in zparts[1:]:
        z = z.bitwiseOR(p)
    return z, all_bounds


def write_zorder_layout(
    df: DataFrame,
    path: str,
    *,
    zorder_by: list[str],
    n_files: int | None = None,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-curve) clustering for MULTI-column pruning.

    ``write_sorted_layout`` gives perfect pruning on a prefix of its
    sort key and none on the rest; Z-order trades a little of the
    first column's locality for real locality on EVERY ``zorder_by``
    column — parquet min/max row-group stats then prune selective
    predicates on any of them.  This is the 100 TB layout for fact
    tables filtered along several independent dimensions (date AND
    customer AND price band), where no single sort order serves all
    queries.  All row-path math is JVM column algebra; the only driver
    data is the ≤2^bits quantile boundaries per column."""
    z, _ = zorder_value(df, zorder_by, bits=bits)
    tagged = df.withColumn("__z", z)
    out = (
        tagged.repartitionByRange(n_files, "__z")
        if n_files
        else tagged.repartitionByRange("__z")
    )
    (
        out.sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
