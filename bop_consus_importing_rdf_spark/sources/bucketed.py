"""Bucketed table layout for co-located joins (scale brief: "bucketing for
co-located joins").

At 100 TB the triple table is joined on ``subj`` again and again (closure
probes, subgraph extraction, per-subject grouping). Writing it ONCE bucketed
by ``subj`` lets every subsequent sort-merge join read pre-hashed,
pre-sorted buckets — the exchange (and with matching bucket counts, the
sort) disappears from every consumer plan. This is the persistent-storage
equivalent of the in-memory ``repartition+persist`` the split pipeline uses
within one job: across jobs, the bucketing survives in the table metadata.

Spark's bucketing needs a managed/external TABLE (``saveAsTable``) — a bare
``parquet(path)`` write silently drops the bucket spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str = "subj",
    n_buckets: int = 64,
    sort_col: str | None = None,
    path: str | None = None,
) -> None:
    """Write ``df`` as a bucketed (+ optionally sorted) table.

    ``n_buckets`` sizes the physical parallelism of every future bucketed
    join — pick it for the target cluster, not the current job (buckets
    are cheap to over-provision, expensive to rewrite).

    ``path`` makes it an EXTERNAL table at that location (the bucket spec
    lives in the catalog either way — a bare ``.parquet(path)`` write
    would silently drop it); default is a managed table under the
    warehouse dir.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def bucketed_join_is_exchange_free(
    spark: SparkSession, left_table: str, right_table: str, on: str
) -> bool:
    """True when the join of two identically-bucketed tables plans with NO
    shuffle exchange on either side — the property the layout exists for.
    Used by tests and as an operability probe after writing new tables.
    """
    # force a sort-merge join: a broadcast join has no exchange either, which
    # would make this probe pass vacuously on any small table
    plan = (
        spark.table(left_table)
        .hint("merge")
        .join(spark.table(right_table).hint("merge"), on)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    return (
        "SortMergeJoin" in plan and "Exchange hashpartitioning" not in plan
    )
