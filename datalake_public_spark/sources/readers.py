"""Schema'd readers for every lake zone.

Replaces the reference's three read idioms (SURVEY §2.1):
  * S4 ``spark.read.json(path)`` with inference
    (``transform_ss_velib_with_spark.py:59``) → explicit-schema JSON read;
  * S5 ``spark.read.schema(s).parquet(path)``
    (``index_to_elastic_with_spark.py:127``) → identical;
  * S6 boto3 ``list_objects_v2`` manual partition discovery
    (``index_to_elastic_with_spark.py:16-38``) → Hive partition discovery +
    partition-column predicates (Catalyst prunes; no driver-side listing code).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


def read_json_snapshots(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    multiline: bool = False,
    mode: str = "FAILFAST",
) -> DataFrame:
    """Read GBFS-style JSON snapshot(s) with a declared schema.

    ``path`` may be one snapshot file or a partitioned directory
    (``.../ingest_date=YYYYMMDD/ingest_time=HHMMSS/*.json``); Spark's
    partition discovery exposes the partition columns automatically, so
    "latest snapshot" becomes a filter, not path surgery.
    No inference: the schema is applied at scan time, keeping the plan a
    single unbroken Catalyst tree (contrast reference §1.4).

    ``mode=FAILFAST``: Spark's default PERMISSIVE mode silently nulls
    malformed records, which would let a corrupt snapshot produce an empty
    feed and a "successful" run — the same silent-failure class as the
    reference's ``return None`` ingest bug (``velib_data_fetcher.py:68-71``;
    SURVEY §7.4 #7). Fail loudly instead.
    """
    return (
        spark.read.schema(schema)
        .option("multiLine", multiline)
        .option("mode", mode)
        .json(path)
    )


def read_json_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    multiline: bool = False,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """JSON read that ROUTES malformed records instead of failing or
    silently nulling them: returns ``(good, quarantined)``.

    The third option between FAILFAST (one bad snapshot kills a 100 TB
    backfill) and bare PERMISSIVE (corruption silently becomes nulls —
    the reference's silent-failure class, ``velib_data_fetcher.py:68-71``):
    PERMISSIVE with a corrupt-record column, then split. ``good`` drops
    the marker column; ``quarantined`` carries the raw malformed text for
    a dead-letter sink + reconciliation counts (rows_in == good + bad).

    Spark refuses a query whose referenced columns are ONLY the corrupt
    column ([UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN]); the
    documented pattern — used here — is caching the parsed frame, which
    also means the good/bad branches share one parse of the input
    instead of re-scanning. The caller owns unpersisting (the handle is
    reachable from either returned frame's lineage).
    """
    # StructType.add mutates in place — build a fresh schema so the
    # caller's declared schema object stays pristine
    aug = StructType(list(schema.fields) + [StructField(corrupt_col, StringType())])
    raw = (
        spark.read.schema(aug)
        .option("multiLine", multiline)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
        .cache()
    )
    good = raw.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = raw.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_record")
    )
    return good, bad


def read_csv_table(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    header: bool = True,
    delimiter: str = ",",
    mode: str = "FAILFAST",
) -> DataFrame:
    """CSV scan with a declared schema — same contract as the JSON reader:
    no inference (inference costs an extra full pass over the data, fatal
    at 100 TB), FAILFAST so a malformed extract cannot silently become
    nulls. CSV supports no predicate/column pushdown (row-oriented text),
    so it is an INGEST format only: land it, convert to parquet, query
    the parquet."""
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("delimiter", delimiter)
        .option("mode", mode)
        .csv(path)
    )


def read_orc_table(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """ORC scan, optionally schema-pinned. ORC is columnar with stripe
    statistics, so Catalyst pushes filters and prunes columns exactly as
    for parquet — a drop-in lake format for sources that arrive as ORC
    (Hive exports); the vectorized reader is on by default."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_parquet_table(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Parquet scan, optionally schema-pinned (reference S5)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def latest_partition(df: DataFrame, partition_col: str) -> DataFrame:
    """Select rows of the most recent snapshot partition.

    Replaces the reference's "first subfolder from a boto3 listing"
    (``index_to_elastic_with_spark.py:96-101``, ``k_means_with_spark.py:68-74``)
    with a metadata-only max over the partition column: Catalyst resolves the
    scalar subquery against partition values and prunes every other partition.
    """
    mx = df.select(F.max(partition_col).alias("__mx"))
    return df.join(F.broadcast(mx), on=df[partition_col] == mx["__mx"], how="inner").drop("__mx")


def _parse_bytes_conf(v: str) -> int:
    v = v.strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    if v.endswith("b"):
        v = v[:-1]
    if v and v[-1] in units:
        return int(float(v[:-1]) * units[v[-1]])
    return int(v)


# Nodes that keep their child's partitioning: the walk in
# ``_repartitioned_to`` passes only these (the whitelist idea of
# ``operators.iterutils._resolve_checkpoint_rdd``).
_PARTITION_KEEPING_NODES = frozenset({"Project", "Filter", "SubqueryAlias"})


def _repartitioned_to(df: DataFrame) -> int:
    """Partition count of the explicit repartition under ``df``'s
    analyzed plan — a shuffling ``Repartition`` or a
    ``RepartitionByExpression`` with a set count — reached through
    partition-keeping nodes only; 0 when there is none. Reads the
    analyzed plan, which the frame already holds, so it costs no
    physical planning."""
    try:
        node = df._jdf.queryExecution().analyzed()
        for _ in range(16):
            name = node.getClass().getSimpleName()
            if name == "Repartition":
                return node.numPartitions() if node.shuffle() else 0
            if name == "RepartitionByExpression":
                opt = node.optNumPartitions()
                return opt.get() if opt.isDefined() else 0
            if name not in _PARTITION_KEEPING_NODES:
                return 0
            node = node.child()
    except Exception:  # private-API drift: widen by the estimate instead
        return 0
    return 0


def widen_for_compute(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Ensure a compute-bound plan has enough partitions to use the cluster.

    Small single-row-group parquet files arrive as ONE split regardless of
    ``maxPartitionBytes`` (parquet splits at row-group granularity), which
    serializes CPU-heavy per-row work (hashing, shingling, vector math)
    onto one core. When the scan's estimated split count is below the
    cluster's default parallelism, repartition round-robin; otherwise
    no-op — so at 100 TB (where scans produce thousands of splits) this
    inserts no shuffle at all, while locally it unlocks all cores for the
    price of shuffling the (small, by definition) input.

    Split estimation reads file sizes (``inputFiles`` + local stat,
    ~30 ms) instead of ``df.rdd.getNumPartitions()`` — the RDD conversion
    forces physical planning and costs ~0.6 s PER CALL, which dominated
    the small-SF latency of every Arrow-kernel operator. The estimate is
    a lower bound (row-group granularity can only reduce splits), so it
    errs toward widening — correct for compute-bound callers. Non-file
    plans and remote filesystems fall back to the exact RDD count.

    A frame that is already widened is returned as is: when its
    analyzed plan reaches an explicit repartition to at least the
    target through thin wrappers only (see ``_repartitioned_to``), a
    second round-robin would shuffle the same rows again. That is the
    ``quality_filter(normalize_text(docs))`` chain of every curation
    batch, whose two operators each widen their input."""
    spark = df.sparkSession
    target = min_parallelism or spark.sparkContext.defaultParallelism
    if _repartitioned_to(df) >= target:
        return df

    est: int | None = None
    try:
        files = df.inputFiles()
        if files and all(f.startswith(("file:", "/")) for f in files):
            max_bytes = _parse_bytes_conf(
                spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
            )
            est = sum(
                max(1, -(-os.path.getsize(f.removeprefix("file:")) // max_bytes))
                for f in files
            )
    except Exception:
        est = None
    if est is None:
        est = df.rdd.getNumPartitions()

    if est < target:
        return df.repartition(target)
    return df


def load_testdata_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """Load the driver's TPC-H-ish parquet tables (TESTDATA.md)."""
    from datalake_public_spark.schemas import TESTDATA_TABLES

    names = tables or TESTDATA_TABLES
    return {t: spark.read.parquet(f"{sf_dir.rstrip('/')}/{t}.parquet") for t in names}
