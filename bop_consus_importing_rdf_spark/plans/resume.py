"""Checkpoint/resume for the KG pipeline (north-rule requirement).

The reference has no resume — a failed pipe run restarts from scratch. Here
the unit of commit is a *conversation bucket*: conversations hash into
``n_buckets`` groups, each bucket's triples land in one partitioned parquet
directory, and a ``_committed`` marker table records finished buckets. On
restart, committed conversations are anti-joined away and only the remainder
recomputes. With Iceberg available this becomes snapshot-append + a ``runs``
table; the parquet + marker emulation keeps the same commit semantics
(partition overwrite is atomic per bucket directory).

The gazetteer side of the KG DAG is per run, the triples plan per bucket:
``run_resumable`` builds the dictionary (``kg.pipeline.build_kg_dictionary``:
the alias ``take``, the linking and canonical maps, the extraction
expressions) once, before the first bucket and only if a bucket remains;
each bucket then plans only its triples (``kg.pipeline.kg_triples``) and
drops its extraction cache once committed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "conv_bucket"


def with_bucket(df: DataFrame, n_buckets: int = 16) -> DataFrame:
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API — works for
    ``file:``, ``hdfs:``, ``s3a:``… (``os.path.exists`` silently answers
    False for any non-local URI, which would restart finished runs on an
    object store)."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs.exists(hpath)


def committed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    marker = os.path.join(out_dir, "_committed")
    if not _hadoop_path_exists(spark, marker):
        return set()
    return {
        r.bucket for r in spark.read.parquet(marker).select("bucket").collect()
    }


def remaining_conversations(
    spark: SparkSession, transcripts: DataFrame, out_dir: str, n_buckets: int = 16
) -> DataFrame:
    """Transcripts whose bucket has not committed yet."""
    done = committed_buckets(spark, out_dir)
    bucketed = with_bucket(transcripts, n_buckets)
    if not done:
        return bucketed
    return bucketed.filter(~F.col(BUCKET_COL).isin(*sorted(done)))


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    aliases: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    fail_after_bucket: int | None = None,
) -> int:
    """Run the KG pipeline bucket-by-bucket with durable commits.

    Returns the number of buckets processed this invocation.
    ``fail_after_bucket`` injects a crash after N commits (for tests).
    """
    import uuid

    from ..kg.pipeline import build_kg_dictionary, kg_triples
    from .lineage import stage_metrics, union_metrics

    run_id = str(uuid.uuid4())
    todo = remaining_conversations(spark, transcripts, out_dir, n_buckets)
    buckets = sorted(
        r[BUCKET_COL]
        for r in todo.select(BUCKET_COL).distinct().collect()
    )
    if not buckets:
        return 0
    dictionary = build_kg_dictionary(spark, aliases)
    marker = os.path.join(out_dir, "_committed")
    n_done = 0
    for b in buckets:
        part = todo.filter(F.col(BUCKET_COL) == b).drop(BUCKET_COL)
        caches: list[DataFrame] = []
        triples = kg_triples(dictionary, part, caches=caches)
        try:
            triples_path = os.path.join(out_dir, f"triples/bucket={b}")
            triples.write.mode("overwrite").parquet(triples_path)
            # per-partition lineage rows for the bucket (north rule):
            # counted over the COMMITTED parquet, so metrics describe what
            # was durably written, not a recomputation
            written = spark.read.parquet(triples_path)
            metrics = union_metrics(
                [
                    stage_metrics(part, run_id, f"bucket={b}/transcripts_in"),
                    stage_metrics(written, run_id, f"bucket={b}/triples_out"),
                ]
            )
            # bucket-partitioned overwrite, NOT a flat append: a crash
            # between this write and the marker append would otherwise
            # leave duplicate lineage rows when the bucket replays (the
            # triples overwrite is idempotent; the metrics write must be too)
            metrics.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"lineage_metrics/bucket={b}")
            )
            # the marker append IS the commit point: triples + metrics for
            # bucket b are fully written before b is recorded. The row is
            # built on the JVM — a local-data frame would start a Python
            # worker job per bucket
            spark.range(1, numPartitions=1).select(
                F.lit(b).cast("int").alias("bucket")
            ).write.mode("append").parquet(marker)
        finally:
            for df in caches:
                df.unpersist()
        n_done += 1
        if fail_after_bucket is not None and n_done >= fail_after_bucket:
            raise RuntimeError(f"injected failure after bucket {b}")
    return n_done
