"""Source/sink abstraction — R1/R14 (SURVEY.md §2.B).

Production target is Iceberg (``iceberg:`` URIs, catalog tables); the
sandbox has no Iceberg jars offline, so parquet paths are the default and
Iceberg is gated behind a runtime capability check. Either way the scan is
a Catalyst V2/parquet relation → predicate pushdown, column pruning and
partition pruning come for free on filters the job applies (R2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

ICEBERG_PREFIX = "iceberg:"

# Parquet writer settings of every parquet output (codec: the session's
# zstd). v2 data pages, and no dictionary on the span ids and offsets: the
# v2 writer then delta-encodes those leaves (DELTA_BINARY_PACKED). Their
# values are dense, near-sorted ints within a document, so a dictionary of
# them is mostly unique values (measured 8.8 of 12.0 MB at 30k docs). The
# low-cardinality ``parent_id`` and ``tag`` keep theirs.
PARQUET_OPTIONS = {
    "parquet.writer.version": "v2",
    **{
        f"parquet.enable.dictionary#spans.list.element.{leaf}": "false"
        for leaf in ("node_id", "start", "end", "text_start", "text_end")
    },
}


def _has_iceberg(spark: SparkSession) -> bool:
    # NB: plain `spark._jvm.org.apache.iceberg.Table` never raises — py4j
    # hands back a JavaPackage for unknown names — so force a classload.
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")
        return True
    except Exception:
        return False


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """Read the pages table (url, warc_ts, html, text?, lang) from an
    Iceberg table ref (``iceberg:db.pages``) or a parquet path."""
    if source.startswith(ICEBERG_PREFIX):
        name = source[len(ICEBERG_PREFIX) :]
        if not _has_iceberg(spark):
            raise RuntimeError(
                "Iceberg runtime not on classpath; use a parquet path in the "
                "sandbox (SURVEY.md §2.B R1)"
            )
        return spark.read.format("iceberg").load(name)
    return spark.read.parquet(source)


def write_output(df: DataFrame, target: str, partition_by: list[str] | None = None):
    """Append-style write with dynamic partition overwrite: re-writing the
    same partition values replaces ONLY those directories, which makes a
    resumed round idempotent (a crashed round's partial bucket dirs are
    replaced wholesale on retry). Parquet output is written with
    ``PARQUET_OPTIONS``."""
    if target.startswith(ICEBERG_PREFIX):
        name = target[len(ICEBERG_PREFIX) :]
        writer = df.writeTo(name)
        return writer.overwritePartitions()
    writer = (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .options(**PARQUET_OPTIONS)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(target)
