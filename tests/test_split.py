"""F1-F5, J1-J3: the dataset split pipeline on the FIXTURES.md §2 graph.

Covers every cited reference behavior: lowercase-typo cleanup before the
scan, bnode-chain closure, nested-catalogue subtraction, blank-id drop,
duplicate ids kept, empty-model drop.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bop_consus_importing_rdf_spark.operators.cleanup import (
    dataset_subjects,
    remove_lowercase_dataset_typo,
)
from bop_consus_importing_rdf_spark.operators.closure import (
    reachable_closure,
    release_checkpoints,
)
from bop_consus_importing_rdf_spark.operators.split import split_datasets
from bop_consus_importing_rdf_spark.oracle import SPARK_QUERIES
from bop_consus_importing_rdf_spark.vocab import (
    DCAT_CATALOG,
    DCAT_DATASET,
    DCAT_DATASET_PROP,
    DCT_IDENTIFIER,
    RDF_TYPE,
)

from .conftest import SF_DIR, triples_df

EX = "http://example.org/"


@pytest.fixture(scope="module")
def fixture_triples(spark):
    rows = [
        # ds1: plain dataset, bnode chain 2 hops deep (J1)
        (EX + "ds1", RDF_TYPE, DCAT_DATASET, "iri"),
        (EX + "ds1", DCT_IDENTIFIER, "id-1", "literal"),
        (EX + "ds1", EX + "contact", "_:b1", "bnode"),
        ("_:b1", EX + "name", "Alice", "literal"),
        ("_:b1", EX + "addr", "_:b2", "bnode"),
        ("_:b2", EX + "city", "Berlin", "literal"),
        # lowercase typo row (F1) — must vanish before the scan
        (EX + "ds1", RDF_TYPE, DCAT_DATASET_PROP, "iri"),
        # ds2: no dct:identifier → URI fallback; contains a nested catalog (J3)
        (EX + "ds2", RDF_TYPE, DCAT_DATASET, "iri"),
        (EX + "ds2", EX + "inCatalog", EX + "cat1", "iri"),
        (EX + "cat1", RDF_TYPE, DCAT_CATALOG, "iri"),
        (EX + "cat1", EX + "title", "The Catalog", "literal"),
        (EX + "cat1", EX + "publisher", "_:b3", "bnode"),
        ("_:b3", EX + "name", "Gov", "literal"),
        # ds3: blank identifier → dropped (F3)
        (EX + "ds3", RDF_TYPE, DCAT_DATASET, "iri"),
        (EX + "ds3", DCT_IDENTIFIER, "  ", "literal"),
        # ds4 + ds5: duplicate identifier, both kept (J4)
        (EX + "ds4", RDF_TYPE, DCAT_DATASET, "iri"),
        (EX + "ds4", DCT_IDENTIFIER, "dup", "literal"),
        (EX + "ds4", EX + "title", "four", "literal"),
        (EX + "ds5", RDF_TYPE, DCAT_DATASET, "iri"),
        (EX + "ds5", DCT_IDENTIFIER, "dup", "literal"),
        (EX + "ds5", EX + "title", "five", "literal"),
    ]
    return triples_df(spark, rows)


def test_f1_removes_typo_only(spark, fixture_triples):
    cleaned = remove_lowercase_dataset_typo(fixture_triples)
    assert cleaned.count() == fixture_triples.count() - 1
    assert (
        cleaned.filter(F.col("obj_value") == DCAT_DATASET_PROP).count() == 0
    )


def test_f2_subject_scan(spark, fixture_triples):
    subs = {
        r.subj
        for r in dataset_subjects(
            remove_lowercase_dataset_typo(fixture_triples)
        ).collect()
    }
    assert subs == {EX + "ds1", EX + "ds2", EX + "ds3", EX + "ds4", EX + "ds5"}


def test_j1_closure_follows_bnode_chain(spark, fixture_triples):
    seeds = spark.createDataFrame(
        [(EX + "ds1", EX + "ds1")], "root string, node string"
    )
    closure = reachable_closure(fixture_triples, seeds)
    assert closure.columns == ["root", "node"]
    nodes = {r.node for r in closure.collect()}
    # ds1 itself, _:b1, _:b2, plus IRI objects of ds1's statements
    assert {"_:b1", "_:b2", EX + "ds1"} <= nodes
    assert EX + "cat1" not in nodes  # unreachable from ds1


def test_split_end_to_end(spark, fixture_triples):
    ds_triples, datasets = split_datasets(fixture_triples)
    ids = sorted(r.identifier for r in datasets.collect())
    # ds3 dropped (blank id); dup kept twice
    assert ids == sorted(["dup", "dup", "id-1", EX + "ds2"])

    by_ds = {
        r.dataset_id: r.cnt
        for r in ds_triples.groupBy("dataset_id").count()
        .withColumnRenamed("count", "cnt").collect()
    }
    # ds1: 3 own stmts (typo removed) + 3 bnode-chain stmts = 6
    assert by_ds[EX + "ds1"] == 6
    # ds2: catalogue subgraph subtracted → only its 2 own statements
    assert by_ds[EX + "ds2"] == 2
    cat_stmts = ds_triples.filter(
        (F.col("dataset_id") == EX + "ds2")
        & (F.col("subj").isin(EX + "cat1", "_:b3"))
    )
    assert cat_stmts.count() == 0


def test_remove_prefix_variant(spark, fixture_triples):
    _, datasets = split_datasets(fixture_triples, remove_prefix=True,
                                 precedence_uri_ref=True)
    ids = sorted(r.identifier for r in datasets.collect())
    # ds3 reappears: URI precedence bypasses its blank dct:identifier
    assert ids == ["ds1", "ds2", "ds3", "ds4", "ds5"]


def test_split_query_scans_final_checkpoint_once(spark):
    """F4 and the consumer share ONE per-dataset counts aggregate, so the
    executed plan of the split query reads the checkpointed statement
    table (the only checkpoint carrying ``dataset_id``) once."""
    df = SPARK_QUERIES["split_datasets"](spark, SF_DIR)
    assert df.collect()  # runs this frame's own execution: the AQE-final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final_plan = plan.split("== Initial Plan ==")[0]
    scans = re.findall(r"Scan ExistingRDD\[([^\]]*)\]", final_plan)
    final_scans = [s for s in scans if "dataset_id#" in s]
    assert len(final_scans) == 1, plan


def test_dense_cyclic_graph_fanout_gate(spark):
    """High average fan-out (untrusted cyclic RDF) shrinks the closure's
    block to two hops, because the hops inside a block enumerate paths;
    the anti-join between blocks still reaches the exact fixpoint."""
    # K8 digraph: every node points at every other → out-degree 7
    nodes = [f"n{i}" for i in range(8)]
    rows = [
        (a, "p", b, "iri", None, None) for a in nodes for b in nodes if a != b
    ]
    t = triples_df(spark, rows)
    seeds = spark.createDataFrame(
        [("n0", "n0")], "root string, node string"
    )
    got = {(r.root, r.node) for r in reachable_closure(t, seeds).collect()}
    assert got == {("n0", n) for n in nodes}


def _chain(spark, hops):
    rows = [(f"urn:c{i}", "urn:p", f"urn:c{i + 1}", "iri") for i in range(hops)]
    seeds = spark.createDataFrame([("urn:c0", "urn:c0")], "root string, node string")
    return triples_df(spark, rows), seeds


def test_closure_raises_when_not_converged(spark):
    """A 9-hop chain needs three 4-hop blocks; one is not enough."""
    t, seeds = _chain(spark, 9)
    with pytest.raises(RuntimeError, match="did not converge within 1 "):
        reachable_closure(t, seeds, max_iters=1)
    got = {r.node for r in reachable_closure(t, seeds, max_iters=3).collect()}
    assert got == {f"urn:c{i}" for i in range(10)}


def _persisted_rdd_ids(spark):
    """Ids of every persisted RDD, local checkpoints included."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_closure_releases_edge_cache(spark):
    """The edge checkpoint never outlives the call: a converged closure
    leaves only the blocks its result reads (three for a 9-hop chain), a
    failed one leaves nothing. With a ``checkpoints`` list the caller owns
    the blocks and frees them with ``release_checkpoints``."""
    t, seeds = _chain(spark, 9)
    before = _persisted_rdd_ids(spark)
    closure = reachable_closure(t, seeds)
    assert closure.count() == 10
    assert len(_persisted_rdd_ids(spark) - before) == 3
    before = _persisted_rdd_ids(spark)
    checkpoints = []
    with pytest.raises(RuntimeError):
        reachable_closure(t, seeds, max_iters=1, checkpoints=checkpoints)
    assert not checkpoints
    assert not _persisted_rdd_ids(spark) - before
    assert reachable_closure(t, seeds, checkpoints=checkpoints).count() == 10
    assert len(checkpoints) == 3
    release_checkpoints(checkpoints)
    assert not _persisted_rdd_ids(spark) - before


def test_closure_block_broadcasts_edges_once(spark):
    """A block's hop joins share one edge broadcast. A one-block closure
    (a 3-hop chain) runs 9 Spark jobs, counting the final ``count``; a
    broadcast per hop join would add nine more. The bound leaves room for
    the job count's run-to-run flip."""
    t, seeds = _chain(spark, 3)
    sc = spark.sparkContext
    group = "closure-one-block"
    sc.setJobGroup(group, group)
    try:
        assert reachable_closure(t, seeds).count() == 4
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 14


def test_closure_block_plans_one_broadcast_and_one_seed_shuffle(spark, monkeypatch):
    """In the executed plan of a one-block closure (a 3-hop chain), the ten
    hop joins build ONE edge broadcast and the ``_k = 0`` branch and the
    hops read ONE shuffle of the seeds; every other exchange is reused.
    The block's own groupBy shuffle is the only other exchange."""
    t, seeds = _chain(spark, 3)
    blocks = []
    frame_cls = type(spark.range(0))
    checkpoint = frame_cls.localCheckpoint

    def recording(self, *args, **kwargs):
        if "_k" in self.columns:
            blocks.append(self)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording)
    assert reachable_closure(t, seeds).count() == 4
    assert len(blocks) == 1
    plan = blocks[0]._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    lines = plan.split("== Initial Plan ==")[0].splitlines()
    # a reused exchange prints as "ReusedExchange [...], <exchange>", so
    # "+- <exchange>" matches only the exchanges that run
    broadcasts = [ln for ln in lines if "+- BroadcastExchange" in ln]
    shuffles = [
        i for i, ln in enumerate(lines) if "+- Exchange hashpartitioning" in ln
    ]
    seed_shuffles = [i for i in shuffles if "partial_max" not in lines[i + 1]]
    assert len(broadcasts) == 1, plan
    assert len(shuffles) == 2 and len(seed_shuffles) == 1, plan


def _pairs(n):
    return st.tuples(st.integers(0, n - 1), st.integers(0, n - 1))


@st.composite
def _digraphs(draw):
    """A random digraph (shared subgraphs, cycles, self-loops) with a
    5-25 hop chain hanging off one node, literal objects that spell node
    names (never followed), and up to three seed roots, one of them
    possibly not in the graph."""
    n = draw(st.integers(2, 12))
    node = "urn:n{}".format
    pairs = draw(st.lists(_pairs(n), max_size=3 * n))
    rows = [
        (node(a), "urn:p", node(b), draw(st.sampled_from(["iri", "bnode"])))
        for a, b in pairs
    ]
    hops = draw(st.integers(5, 25))
    chain = [node(draw(st.integers(0, n - 1)))] + [f"_:c{i}" for i in range(hops)]
    rows += [(a, "urn:q", b, "bnode") for a, b in zip(chain, chain[1:])]
    if draw(st.booleans()):  # close the chain into a cycle
        rows.append((chain[-1], "urn:q", chain[0], "iri"))
    lits = draw(st.lists(_pairs(n), max_size=n))
    rows += [(node(a), "urn:name", node(b), "literal") for a, b in lits]
    # the chain's head is always a root, so every example runs 2-7 blocks
    roots = draw(st.lists(st.integers(0, n), max_size=2))
    return rows, sorted({chain[0], *map(node, roots)})


def _bfs(rows, root):
    out = {}
    for s, _, o, kind in rows:
        if kind in ("iri", "bnode"):
            out.setdefault(s, set()).add(o)
    seen, todo = {root}, [root]
    while todo:
        for m in out.get(todo.pop(), ()):
            if m not in seen:
                seen.add(m)
                todo.append(m)
    return seen


@settings(max_examples=10, deadline=None, derandomize=True)
@given(graph=_digraphs())
def test_closure_matches_python_bfs_property(spark, graph):
    rows, roots = graph
    t = triples_df(spark, rows)
    seeds = spark.createDataFrame([(r, r) for r in roots], "root string, node string")
    got = {(r.root, r.node) for r in reachable_closure(t, seeds).collect()}
    assert got == {(r, m) for r in roots for m in _bfs(rows, r)}
