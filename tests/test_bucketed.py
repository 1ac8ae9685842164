"""Bucketed tables: identically-bucketed joins plan without exchanges."""

from __future__ import annotations

from pyspark.sql import functions as F

from bop_consus_importing_rdf_spark.sources.bucketed import (
    bucketed_join_is_exchange_free,
    write_bucketed,
)


def test_bucketed_join_drops_exchanges(spark, tmp_path):
    # warehouse dir is static config — use the session default and clean up
    spark.sql("CREATE DATABASE IF NOT EXISTS bkt")
    triples = spark.range(5000).select(
        F.concat(F.lit("urn:s:"), (F.col("id") % 700).cast("string")).alias("subj"),
        F.lit("urn:p:x").alias("pred"),
        F.col("id").cast("string").alias("obj_value"),
    )
    nodes = spark.range(700).select(
        F.concat(F.lit("urn:s:"), F.col("id").cast("string")).alias("subj"),
        (F.col("id") % 7).alias("grp"),
    )
    try:
        write_bucketed(
            triples, "bkt.triples_b", "subj", n_buckets=8, sort_col="subj"
        )
        write_bucketed(
            nodes, "bkt.nodes_b", "subj", n_buckets=8, sort_col="subj"
        )

        # the join itself is correct…
        joined = spark.table("bkt.triples_b").join(
            spark.table("bkt.nodes_b"), "subj"
        )
        assert joined.count() == 5000

        # …and plans with NO shuffle exchange on either side
        assert bucketed_join_is_exchange_free(
            spark, "bkt.triples_b", "bkt.nodes_b", "subj"
        )

        # control: the same join over unbucketed parquet DOES exchange
        triples.write.mode("overwrite").parquet(f"{tmp_path}/plain_t")
        nodes.write.mode("overwrite").parquet(f"{tmp_path}/plain_n")
        plain = (
            spark.read.parquet(f"{tmp_path}/plain_t")
            .hint("merge")
            .join(spark.read.parquet(f"{tmp_path}/plain_n").hint("merge"), "subj")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange hashpartitioning" in plain
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt.triples_b")
        spark.sql("DROP TABLE IF EXISTS bkt.nodes_b")
        spark.sql("DROP DATABASE IF EXISTS bkt")


def test_split_probe_side_exchange_free_over_bucketed(spark, tmp_path):
    """The split hot path's at-scale win from the bucketed layout: in
    ``subgraph_triples`` (triples ⋈ closure ON subj = node), once the
    closure side is too big to broadcast — the 100-TB regime, emulated here
    by disabling auto-broadcast — the TRIPLE side (the big one) plans with
    NO exchange when the table is bucketed by ``subj``, while the plain
    parquet control shuffles both sides. Measured at sf0.01: bucketed = 1
    exchange (closure side only, semantically required), plain = 2."""
    from bop_consus_importing_rdf_spark.operators.closure import (
        subgraph_triples,
    )

    spark.sql("CREATE DATABASE IF NOT EXISTS bkt2")
    triples = spark.range(5000).select(
        F.concat(F.lit("urn:s:"), (F.col("id") % 700).cast("string")).alias("subj"),
        F.lit("urn:p:x").alias("pred"),
        F.col("id").cast("string").alias("obj_value"),
        F.lit("iri").alias("obj_kind"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(
            triples, "bkt2.triples_b", "subj", n_buckets=8, sort_col="subj"
        )
        triples.write.mode("overwrite").parquet(f"{tmp_path}/plain_t")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

        def n_exchanges(t):
            closure = t.select(
                F.col("subj").alias("root"), F.col("obj_value").alias("node")
            )
            plan = (
                subgraph_triples(t, closure)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            return plan.count("Exchange hashpartitioning")

        assert n_exchanges(spark.table("bkt2.triples_b")) == 1
        assert n_exchanges(spark.read.parquet(f"{tmp_path}/plain_t")) == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt2.triples_b")
        spark.sql("DROP DATABASE IF EXISTS bkt2")
