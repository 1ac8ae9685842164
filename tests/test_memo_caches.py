"""Session-collision hardening of oracle.py's module memo caches and the
no-storage-leak contract of the kg extraction's checkpoints."""

from __future__ import annotations

import gc
import time

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_memo_cache_rejects_stale_session_entry(spark):
    """A cache entry whose weakref no longer points at the calling session
    (the id()-collision case: old session GC'd, new one lands on the same
    id) must be discarded and rebuilt, never handed to the new session."""
    from bop_consus_importing_rdf_spark import oracle

    g1 = oracle._graph(spark, SF_DIR)
    key = (id(spark), SF_DIR)
    assert key in oracle._GRAPH_CACHE
    assert oracle._GRAPH_CACHE[key][0]() is spark

    # simulate the collision: same key, dead owner
    class _Dead:
        pass

    dead = _Dead()
    import weakref

    dead_ref = weakref.ref(dead)
    del dead
    gc.collect()
    assert dead_ref() is None
    sentinel = object()
    oracle._GRAPH_CACHE[key] = (dead_ref, sentinel)
    g2 = oracle._graph(spark, SF_DIR)
    assert g2 is not sentinel  # stale entry discarded, real graph rebuilt
    assert g2.columns == g1.columns
    assert oracle._GRAPH_CACHE[key][0]() is spark


def test_graph_memo_survives_clear_cache(spark):
    """The memoized graph is a checkpoint, which ``clearCache()`` cannot
    evict: after it, ``_graph`` hands back the same frame and a render
    over it scans the checkpoint instead of rebuilding the UNION ALL
    graph (bench.py clears the cache between the KG pipeline and the
    renders)."""
    from bop_consus_importing_rdf_spark import oracle

    g = oracle._graph(spark, SF_DIR)
    spark.catalog.clearCache()
    assert oracle._graph(spark, SF_DIR) is g
    render = oracle.q_nt_render(spark, SF_DIR)
    assert render.count() == g.count()
    plan = render._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan, plan


def test_kg_triples_extraction_checkpoints_are_caller_owned(
    spark, monkeypatch
):
    """On both dictionary paths each kg_triples call appends its one
    extraction checkpoint to the caller's list, and releasing that list
    after the write leaves no persisted RDD behind; the module keeps no
    frame list of its own."""
    from bop_consus_importing_rdf_spark.kg import pipeline
    from bop_consus_importing_rdf_spark.kg.pipeline import (
        build_kg_dictionary,
        kg_triples,
    )
    from bop_consus_importing_rdf_spark.kg.synth import (
        alias_table,
        synth_transcripts,
    )
    from bop_consus_importing_rdf_spark.operators.closure import (
        release_checkpoints,
    )

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    aliases = alias_table(spark)
    transcripts = synth_transcripts(spark, n_conv=50, seed=3)
    for threshold in (50_000, 0):  # broadcast-scale, then at-scale
        monkeypatch.setattr(pipeline, "SMALL_GAZETTEER_ROWS", threshold)
        dictionary = build_kg_dictionary(spark, aliases)
        assert (dictionary.columns is None) == (threshold == 0)
        before = persisted()
        ck = []
        for n in (1, 2):
            triples = kg_triples(dictionary, transcripts, checkpoints=ck)
            assert len(ck) == n
            triples.write.format("noop").mode("overwrite").save()
        rdd_ids = {
            df._jdf.queryExecution().analyzed().rdd().id() for df in ck
        }
        assert rdd_ids <= persisted()  # held until the caller frees them
        release_checkpoints(ck)
        assert not persisted() - before
    assert not [
        name for name, value in vars(pipeline).items()
        if isinstance(value, list)
    ]
