"""Lake and document sinks.

Reference sinks (SURVEY §2.2): K2 parquet overwrite writes
(``transform_ss_velib_with_spark.py:108`` etc.), K3 Elasticsearch bulk index
with doc-id mapping (``index_to_elastic_with_spark.py:139-150``), K4 post-write
count verification (``:40-68``).

The ES sink sits behind a ``DocumentSink`` interface so the correctness path
never needs external infra (SURVEY §7.4 #6) — tests swap in
``ParquetDocumentSink``.

Scale: formatted/enriched writes are Hive-partitioned on ingest columns so
downstream reads prune; ``mode="overwrite"`` +
``partitionOverwriteMode=dynamic`` gives idempotent per-partition re-runs
(a retried 3-hourly tick rewrites only its own snapshot partition, not the
whole table — contrast the reference's whole-prefix overwrite).
"""

from __future__ import annotations

from typing import Protocol

from pyspark.sql import DataFrame


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    *,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """K2 parity with Hive partitioning instead of path surgery."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.option("partitionOverwriteMode", "dynamic").partitionBy(*partition_by)
    writer.parquet(path)


class DocumentSink(Protocol):
    """Anything that can absorb a serving-shaped DataFrame keyed by doc id."""

    def write(self, df: DataFrame, *, index: str, id_col: str) -> int:
        """Write and return the number of documents indexed."""
        ...


class ParquetDocumentSink:
    """Test/local stand-in for Elasticsearch: same contract, parquet storage."""

    def __init__(self, root: str) -> None:
        self.root = root.rstrip("/")

    def write(self, df: DataFrame, *, index: str, id_col: str) -> int:
        path = f"{self.root}/{index}"
        df.write.mode("overwrite").parquet(path)
        # K4 reconciliation read-back (asserted by callers via
        # quality.reconcile_counts); the directory was just written from
        # ``df``, so its schema is known and no footer-inference job runs
        return df.sparkSession.read.schema(df.schema).parquet(path).count()


class ElasticsearchSink:
    """K3: the es-spark connector sink (``org.elasticsearch.spark.sql``),
    config-compatible with ``index_to_elastic_with_spark.py:139-150``
    (``es.mapping.id``, ``es.index.auto.create=false`` — mappings are
    externally managed).

    The connector jar is not in this container, so the save step is an
    injectable ``transport`` — the default performs the real
    ``df.write.format(...).save()`` (requires the jar); tests inject a
    fake transport and assert the exact (format, options, mode) contract
    plus K4 count reconciliation. Option drift therefore fails a test
    even with no Elasticsearch anywhere."""

    FORMAT = "org.elasticsearch.spark.sql"
    MODE = "overwrite"

    def __init__(
        self,
        nodes: str,
        port: int = 9200,
        ssl: bool = False,
        transport=None,
    ) -> None:
        self.nodes = nodes
        self.port = port
        self.ssl = ssl
        # transport(df, format, options, mode) -> rows-indexed count
        self._transport = transport if transport is not None else self._spark_save

    def sink_options(self, index: str, id_col: str) -> dict[str, str]:
        """The full es-spark option set (reference parity:
        ``index_to_elastic_with_spark.py:139-150``)."""
        return {
            "es.nodes": self.nodes,
            "es.port": str(self.port),
            "es.net.ssl": str(self.ssl).lower(),
            "es.resource": index,
            "es.mapping.id": id_col,
            "es.index.auto.create": "false",
        }

    @staticmethod
    def _spark_save(df: DataFrame, fmt: str, options: dict[str, str], mode: str) -> int:
        df.write.format(fmt).options(**options).mode(mode).save()
        return df.count()

    def write(self, df: DataFrame, *, index: str, id_col: str) -> int:
        return self._transport(df, self.FORMAT, self.sink_options(index, id_col), self.MODE)
