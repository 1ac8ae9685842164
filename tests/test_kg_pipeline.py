"""North-rule KG pipeline: mentions → linking → triples → canonicalization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bop_consus_importing_rdf_spark.kg import pipeline
from bop_consus_importing_rdf_spark.kg.blocking import entity_similarity_edges
from bop_consus_importing_rdf_spark.kg.linking import (
    explode_mentions,
    link_entities,
)
from bop_consus_importing_rdf_spark.kg.mentions import (
    detect_mentions,
    mention_relation_extractor,
)
from bop_consus_importing_rdf_spark.kg.pipeline import (
    PRED_MENTIONS,
    PRED_RELEASED,
    build_kg,
    build_kg_dictionary,
    canonical_entity_map,
    kg_triples,
    stable_turns,
)
from bop_consus_importing_rdf_spark.kg.synth import (
    _sql_string,
    alias_rows,
    alias_table,
    synth_transcripts,
)
from bop_consus_importing_rdf_spark.vocab import KG_NS


@pytest.fixture(scope="module")
def aliases(spark):
    return alias_table(spark)


@pytest.fixture(scope="module")
def alias_list(aliases):
    return [r.alias for r in aliases.select("alias").distinct().collect()]


def test_detect_mentions_batched(spark, alias_list):
    df = spark.createDataFrame(
        [
            ("Initech Corporation released Kestrel in 2001",),
            ("nothing here",),
            (None,),
        ],
        "text string",
    )
    got = [r.m for r in df.select(detect_mentions(F.col("text"), alias_list).alias("m")).collect()]
    assert got[0] == ["Initech Corporation", "Kestrel"]  # longest match wins
    assert got[1] == [] and got[2] == []


def test_extract_relations(spark, alias_list):
    df = spark.createDataFrame(
        [
            ("Globex Corp released The Kestrel in 1999",),
            ("Globex Corp released NotAnEntity in 1999",),
            ("free text",),
        ],
        "text string",
    )
    got = (
        df.transform(mention_relation_extractor(alias_list))
        .select(F.col("_mr.rel").alias("r"))
        .collect()
    )
    assert got[0].r.subj_alias == "Globex Corp"
    assert got[0].r.obj_alias == "The Kestrel"
    assert got[0].r.year == "1999"
    assert got[1].r.subj_alias is None  # non-gazetteer slot rejected
    assert got[2].r.subj_alias is None


def test_alias_table_take_starts_no_spark_job(spark):
    """The gazetteer is a local relation: the dictionary's per-run
    ``take(threshold+1)`` reads it on the driver, with no Spark job."""
    sc = spark.sparkContext
    aliases = alias_table(spark)
    group = "test-alias-table-take"
    sc.setJobGroup(group, "alias take")
    try:
        rows = aliases.take(50_001)
        no_job = list(sc.statusTracker().getJobIdsForGroup(group))
        spark.range(4).selectExpr("sum(id)").collect()  # control: a job
        control = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert no_job == [] and len(control) >= 1
    assert [tuple(r) for r in rows] == alias_rows()
    assert aliases.dtypes == [
        ("alias", "string"), ("entity_uri", "string"), ("prior", "double"),
    ]
    tricky = "it's a \\ back'slash"
    assert spark.sql(f"SELECT {_sql_string(tricky)} AS s").first().s == tricky


def test_linking_picks_max_prior_deterministically(spark, aliases):
    m = spark.createDataFrame(
        [("c1", 0, 0, "Mercury")],
        "conv_id string, turn_idx int, mention_pos int, alias string",
    )
    got = link_entities(m, aliases).collect()
    assert len(got) == 1
    assert got[0].entity_uri == KG_NS + "ent:org_mercury"  # prior 0.7 > 0.3


def test_entity_similarity_merges_near_dups_only(spark, aliases):
    edges = entity_similarity_edges(aliases)
    pairs = {(r.src, r.dst) for r in edges.collect()}
    expected = {
        (KG_NS + f"ent:org{i}a", KG_NS + f"ent:org{i}b") for i in range(0, 24, 2)
    }
    assert pairs == expected  # exactly the minted near-dup pairs, no more


def test_canonical_map_small_dim_matches_distributed(
    spark, aliases, monkeypatch
):
    """The driver union-find fast path and the MinHash/LSH + CC scale path
    must produce the same map on the fixture."""
    fast = {
        r.entity_uri: r.canonical_id
        for r in canonical_entity_map(aliases).collect()
    }
    monkeypatch.setattr(pipeline, "SMALL_GAZETTEER_ROWS", 0)
    dist = {
        r.entity_uri: r.canonical_id
        for r in canonical_entity_map(aliases).collect()
    }
    assert fast == dist


def test_canonical_map_idempotent_for_singletons(spark, aliases):
    canon = canonical_entity_map(aliases)
    m = {r.entity_uri: r.canonical_id for r in canon.collect()}
    assert m[KG_NS + "ent:org0b"] == KG_NS + "ent:org0a"
    assert m[KG_NS + "ent:org1"] == KG_NS + "ent:org1"
    assert m[KG_NS + "ent:prod3"] == KG_NS + "ent:prod3"


def test_build_kg_end_to_end(spark, aliases):
    t = synth_transcripts(spark, n_conv=12, seed=7)
    out = build_kg(spark, t, aliases)
    triples = out["triples"].cache()

    # no uncanonicalized near-dup URI survives the rewrite
    leaked = triples.filter(
        (F.col("obj_kind") == "iri") & F.col("obj_value").endswith("b")
        & F.col("obj_value").startswith(KG_NS + "ent:org")
    ).count()
    assert leaked == 0

    # every turn has exactly one text triple and one type triple
    n_turns = t.select("conv_id", "turn_idx").distinct().count()
    n_text = triples.filter(F.col("pred") == KG_NS + "pred:text").count()
    assert n_text == n_turns

    # mention triples exist and point at canonical entities
    assert triples.filter(F.col("pred") == PRED_MENTIONS).count() > 0
    rel = triples.filter(F.col("pred") == PRED_RELEASED)
    assert rel.count() > 0

    # datasets: one per conversation, counters dense 1..n per catalogue
    datasets = out["datasets"].cache()
    assert datasets.count() == 12
    counters = sorted(r.counter for r in datasets.collect())
    assert counters == list(range(1, 13))
    # manifest lists every conv exactly once, ordered
    mf = out["manifest"].collect()[0]
    assert mf.identifiers == sorted([r.identifier for r in datasets.collect()])

    # content hash is 64-hex
    assert all(len(r.content_hash) == 64 for r in datasets.collect())


def test_build_kg_extraction_runs_no_python_udf(spark, aliases, monkeypatch):
    """Extraction has one engine, the JVM one, whatever the host: with
    far more cores than task slots the extraction frame build_kg
    checkpoints still holds no Python UDF evaluation."""
    import os

    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    t = synth_transcripts(spark, n_conv=4, seed=5)
    columns = build_kg_dictionary(spark, aliases).columns
    plan = (
        stable_turns(t)
        .transform(columns.add_mr)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "regexp_extract_all" in plan


def test_per_turn_text_equality_under_stable_ordering(spark, aliases):
    """input_hint invariant: same corpus, different physical row order /
    partitioning → identical triple set and identical per-turn text."""
    t1 = synth_transcripts(spark, n_conv=8, seed=3, shuffled=False)
    t2 = synth_transcripts(spark, n_conv=8, seed=3, shuffled=True).repartition(13)
    out1 = build_kg(spark, t1, aliases)["triples"]
    out2 = build_kg(spark, t2, aliases)["triples"]
    cols = ["conv_id", "subj", "pred", "obj_value", "obj_kind"]
    diff = out1.select(cols).exceptAll(out2.select(cols)).count()
    diff2 = out2.select(cols).exceptAll(out1.select(cols)).count()
    assert diff == 0 and diff2 == 0


def test_build_kg_at_scale_path_matches_broadcast_path(
    spark, aliases, monkeypatch
):
    """SMALL_GAZETTEER_ROWS=0 exercises the at-scale branch: the
    canonical map is never collected (distributed LSH+CC + rewrite joins)
    yet the emitted triple set is identical to the composed-map literal
    path (VERDICT r2 #1)."""
    t = synth_transcripts(spark, n_conv=10, seed=11)
    cols = ["conv_id", "subj", "pred", "obj_value", "obj_kind",
            "obj_lang", "obj_datatype", "turn_idx", "dataset_id"]
    small = build_kg(spark, t, aliases)["triples"].select(cols)
    monkeypatch.setattr(pipeline, "SMALL_GAZETTEER_ROWS", 0)
    at_scale = build_kg(spark, t, aliases)["triples"].select(cols)
    assert small.exceptAll(at_scale).count() == 0
    assert at_scale.exceptAll(small).count() == 0


def test_at_scale_dictionary_builds_match_table_once(
    spark, aliases, monkeypatch
):
    """The at-scale dictionary holds the join matcher's validated alias
    table: three kg_triples calls on one dictionary (three resume
    buckets) build it, and run its validation job, once."""
    from bop_consus_importing_rdf_spark.kg import matcher

    calls = []

    def counting(*args, _f=matcher.alias_match_table, **kwargs):
        calls.append(args)
        return _f(*args, **kwargs)

    monkeypatch.setattr(matcher, "alias_match_table", counting)
    monkeypatch.setattr(pipeline, "SMALL_GAZETTEER_ROWS", 0)
    dictionary = build_kg_dictionary(spark, aliases)
    t = synth_transcripts(spark, n_conv=5, seed=7)
    for _ in range(3):
        kg_triples(dictionary, t).write.format("noop").mode(
            "overwrite"
        ).save()
    assert len(calls) == 1


def test_gazetteer_scale_decision_is_one_rule(
    spark, tmp_path, monkeypatch, caplog
):
    """One gazetteer-scale rule for every consumer: with a 4-row
    gazetteer, SMALL_GAZETTEER_ROWS=4 (exactly N rows) sends the
    dictionary, the canonical map and the stream to the broadcast branch,
    SMALL_GAZETTEER_ROWS=3 (N+1 rows) sends all three at scale, and each
    consumer's one decision is logged with the bound and that branch."""
    import logging

    from bop_consus_importing_rdf_spark.kg import matcher, mentions
    from bop_consus_importing_rdf_spark.model import TRANSCRIPTS_SCHEMA
    from bop_consus_importing_rdf_spark.streaming.ingest import (
        stream_extract_triples,
    )

    gaz = spark.createDataFrame(
        [
            ("Acme", KG_NS + "ent:a", 0.9),
            ("Acme Corp", KG_NS + "ent:a", 0.5),
            ("Mercury", KG_NS + "ent:m", 0.7),
            ("Falcon", KG_NS + "ent:f", 0.8),
        ],
        "alias string, entity_uri string, prior double",
    )
    in_dir = str(tmp_path / "in")
    spark.createDataFrame([], TRANSCRIPTS_SCHEMA).write.parquet(in_dir)
    # the stream's matcher is its branch: the trie regex is built only on
    # the broadcast branch, the join matcher's alias table only at scale
    stream_branches = []
    for module, name, branch in (
        (mentions, "detect_mentions", "broadcast"),
        (matcher, "alias_match_table", "at-scale"),
    ):
        def spy(*args, _f=getattr(module, name), _b=branch):
            stream_branches.append(_b)
            return _f(*args)

        monkeypatch.setattr(module, name, spy)
    caplog.set_level(logging.INFO, logger=pipeline.__name__)

    for bound, branch in ((4, "broadcast"), (3, "at-scale")):
        monkeypatch.setattr(pipeline, "SMALL_GAZETTEER_ROWS", bound)
        caplog.clear()
        columns = build_kg_dictionary(spark, gaz).columns
        assert (columns is not None) == (branch == "broadcast")
        canon_plan = (
            canonical_entity_map(gaz)._jdf.queryExecution().analyzed()
        ).toString()
        assert ("Join" in canon_plan) == (branch == "at-scale")
        # the at-scale dictionary builds the join matcher's table too
        stream_branches.clear()
        stream_extract_triples(
            spark, in_dir, str(tmp_path / f"out{bound}"), gaz
        ).awaitTermination(120)
        assert stream_branches == [branch]
        decisions = [
            r.getMessage() for r in caplog.records
            if r.name == pipeline.__name__
        ]
        assert len(decisions) == 3
        for msg in decisions:
            assert msg.startswith(f"gazetteer scale: {branch} ")
            assert f" {bound} alias rows" in msg


def test_sft_examples_context_window_and_dedup(spark):
    import datetime as dt

    from bop_consus_importing_rdf_spark.kg.pipeline import sft_examples

    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", 0, "user", "q1", None, ts),
        ("c1", 1, "assistant", "a1", None, ts),
        ("c1", 1, "assistant", "a1-dup-later-ts", None,
         dt.datetime(2024, 1, 2)),  # double delivery: dropped (later ts)
        ("c1", 2, "user", "q2", None, ts),
        ("c1", 3, "tool", "t1", None, ts),
        ("c1", 4, "assistant", "a2", None, ts),
        ("c2", 0, "assistant", "opener", None, ts),  # no context
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).repartition(5)
    got = {
        (r["conv_id"], r["turn_idx"]): (
            r["context"], r["response"], r["n_context_turns"]
        )
        for r in sft_examples(df, k_context=3).collect()
    }
    assert got == {
        ("c1", 1): ("user: q1", "a1", 1),
        # k=3 window: turns 1..3 (the dup was dropped, a1 kept)
        ("c1", 4): ("assistant: a1\nuser: q2\ntool: t1", "a2", 3),
        ("c2", 0): ("", "opener", 0),
    }
