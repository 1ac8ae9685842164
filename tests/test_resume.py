"""Checkpoint/resume: idempotent restart after injected partial failure."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bop_consus_importing_rdf_spark.kg.synth import alias_table, synth_transcripts
from bop_consus_importing_rdf_spark.plans.resume import (
    committed_buckets,
    remaining_conversations,
    run_resumable,
)


def test_resume_after_partial_failure(spark, tmp_path):
    # explicit file: URI — the commit-marker existence check goes through the
    # Hadoop FileSystem API, so the same code path serves hdfs:/s3a: URIs
    out_dir = "file://" + str(tmp_path / "kg_out")
    t = synth_transcripts(spark, n_conv=10, seed=5)
    aliases = alias_table(spark)

    from bop_consus_importing_rdf_spark.plans.resume import BUCKET_COL, with_bucket

    n_present = (
        with_bucket(t, 4).select(BUCKET_COL).distinct().count()
    )
    assert n_present >= 3  # fixture must exercise a real partial run

    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, t, aliases, out_dir, n_buckets=4, fail_after_bucket=2)
    assert len(committed_buckets(spark, out_dir)) == 2

    # restart: only the remaining buckets run
    n = run_resumable(spark, t, aliases, out_dir, n_buckets=4)
    assert n == n_present - 2
    assert len(committed_buckets(spark, out_dir)) == n_present

    # a third run is a no-op (idempotent)
    assert run_resumable(spark, t, aliases, out_dir, n_buckets=4) == 0

    # lineage: every committed bucket wrote per-partition metrics rows into
    # its own bucket=<b> partition (replay-idempotent overwrite); reading the
    # parent dir surfaces the partition column
    metrics = spark.read.parquet(f"{out_dir}/lineage_metrics")
    assert metrics.count() > 0
    assert set(metrics.columns) == {
        "run_id", "stage", "partition_id", "rows_out", "bucket"
    }
    # exactly one run's metrics per bucket survives replay — the bucket
    # re-run in the restart overwrote the crashed attempt's rows
    per_bucket_runs = (
        metrics.select("bucket", "run_id").distinct()
        .groupBy("bucket").count().filter(F.col("count") > 1)
    )
    assert per_bucket_runs.isEmpty()
    stages = {r.stage for r in metrics.select("stage").distinct().collect()}
    assert any(s.endswith("triples_out") for s in stages)
    assert any(s.endswith("transcripts_in") for s in stages)
    # rows_out of the triples_out stages sums to the committed triple count
    from pyspark.sql import functions as SF
    total_out = (
        metrics.filter(SF.col("stage").endswith("triples_out"))
        .agg(SF.sum("rows_out")).collect()[0][0]
    )

    # the union of bucket outputs covers every conversation exactly once
    triples = spark.read.parquet(f"{out_dir}/triples")
    assert total_out == triples.count()
    convs = {r.conv_id for r in triples.select("conv_id").distinct().collect()}
    assert convs == {r.conv_id for r in t.select("conv_id").distinct().collect()}

    # full-corpus single-shot run produces the same triple set
    from bop_consus_importing_rdf_spark.kg.pipeline import build_kg

    ref = build_kg(spark, t, aliases)["triples"]
    cols = ["conv_id", "subj", "pred", "obj_value", "obj_kind"]
    assert triples.select(cols).exceptAll(ref.select(cols)).count() == 0
    assert ref.select(cols).exceptAll(triples.select(cols)).count() == 0


def test_remaining_conversations_filters_committed(spark, tmp_path):
    out_dir = str(tmp_path / "kg_out2")
    t = synth_transcripts(spark, n_conv=6, seed=9)
    rem0 = remaining_conversations(spark, t, out_dir, n_buckets=4)
    assert rem0.count() == t.count()


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _four_bucket_corpus(spark):
    from bop_consus_importing_rdf_spark.plans.resume import BUCKET_COL, with_bucket

    t = synth_transcripts(spark, n_conv=20, seed=5)
    assert with_bucket(t, 4).select(BUCKET_COL).distinct().count() == 4
    return t


def test_run_resumable_builds_dictionary_once(spark, tmp_path, monkeypatch):
    """The gazetteer side is per run: one dictionary for four buckets, none
    for a rerun with nothing left to commit; each bucket's extraction
    cache is released once the bucket commits."""
    from bop_consus_importing_rdf_spark.kg import pipeline

    built = []
    original = pipeline.build_kg_dictionary

    def counting(*args, **kwargs):
        built.append(1)
        return original(*args, **kwargs)

    monkeypatch.setattr(pipeline, "build_kg_dictionary", counting)
    out_dir = str(tmp_path / "kg_out")
    t = _four_bucket_corpus(spark)
    aliases = alias_table(spark)

    before = _persistent_rdds(spark)
    assert run_resumable(spark, t, aliases, out_dir, n_buckets=4) == 4
    assert len(built) == 1
    assert _persistent_rdds(spark) <= before

    assert run_resumable(spark, t, aliases, out_dir, n_buckets=4) == 0
    assert len(built) == 1


def test_run_resumable_releases_caches_on_injected_failure(spark, tmp_path):
    out_dir = str(tmp_path / "kg_out")
    t = _four_bucket_corpus(spark)
    aliases = alias_table(spark)

    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, t, aliases, out_dir, n_buckets=4, fail_after_bucket=2)
    assert _persistent_rdds(spark) <= before
    assert run_resumable(spark, t, aliases, out_dir, n_buckets=4) == 2
    assert _persistent_rdds(spark) <= before
    assert committed_buckets(spark, out_dir) == {0, 1, 2, 3}


def test_committed_buckets_reads_local_data_marker(spark, tmp_path):
    """A marker file written from a local-data frame (a nullable ``bucket
    int`` column) reads back together with the markers run_resumable
    writes from a JVM-built row."""
    out_dir = str(tmp_path / "kg_out")
    t = _four_bucket_corpus(spark)
    spark.createDataFrame([(0,)], "bucket int").write.mode("append").parquet(
        f"{out_dir}/_committed"
    )
    assert committed_buckets(spark, out_dir) == {0}

    assert run_resumable(spark, t, alias_table(spark), out_dir, n_buckets=4) == 3
    assert committed_buckets(spark, out_dir) == {0, 1, 2, 3}
    done = {
        r.bucket
        for r in spark.read.parquet(f"{out_dir}/triples")
        .select("bucket").distinct().collect()
    }
    assert done == {1, 2, 3}
