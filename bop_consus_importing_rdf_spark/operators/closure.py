"""Reachability closure over the triple table (reference J1/J3).

``Resource.extractAsModel()`` (reference ``Flows.kt:114``) computes the
statements reachable from a dataset resource — following object IRIs and
blank nodes. Relationally this is an iterative equi-join to fixpoint, run
as ONE driver-side loop over blocks of hops:

    frontier := seeds
    repeat: block := frontier expanded ``depth`` hops, grouped by
                     (root, node) with the longest hop index seen
            block := block \\ visited          (every block after the first)
            frontier := block nodes whose hop index == depth

- The loop probes a SLIM edge projection ``(_src, _dst)`` — two columns
  instead of the six-column statement rows, and only the follow-kind
  statements with both ends non-NULL — held as a local checkpoint. One
  stats job fills it and sizes the two gates below; it is freed when the
  loop ends.
- A block is one plan: ``depth`` hop joins whose outputs are unioned and
  reduced by one ``groupBy(root, node).agg(max(_k))``, then one
  ``localCheckpoint`` and one emptiness probe of the checkpoint. Its
  1 + 2 + … + ``depth`` hop joins all read the same checkpoint scan with
  no filter of their own, so AQE builds the edge broadcast (or, past the
  broadcast gate, the edge shuffle) once per block and reuses it for the
  rest. The seed frontier carries the hop joins' not-null filter
  explicitly, so the first block's ``_k = 0`` branch and its hops share
  one shuffle of the seeds.
  Catalogue-shaped RDF is 3-4 hops deep, so it closes inside the first
  block: three driver actions in all (the stats job, the block's
  checkpoint, its probe), which AQE runs as seven to eight Spark jobs. The
  per-iteration driver actions — not data volume — dominate the loop on
  shallow graphs.
- A node whose longest in-block path is shorter than ``depth`` had all its
  successors expanded inside the block; only the nodes at exactly
  ``depth`` hops carry on. The anti-join against the visited blocks keeps
  the fixpoint exact on cycles, shared subgraphs and deep chains.
- The visited set is a lazy union of the checkpointed blocks, never
  re-materialized as a whole (re-checkpointing the union every round
  rewrites O(V) rows per iteration).

The oracle twin is a recursive CTE (DuckDB) — see ``oracle.py::SPLIT_CTE``.
"""

from __future__ import annotations

from collections.abc import Iterable
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..vocab import KIND_BNODE, KIND_IRI

# Broadcasting the edge relation turns every hop join into a narrow
# broadcast-hash probe, so a block is one shuffle-free stage up to its
# groupBy, built on one broadcast. Above this edge count the hops plan as
# shuffle joins against one reused edge shuffle per block, the right plan
# once the edge table dwarfs executor memory. The bound comes from A/B
# pairs on local[32] (broadcast won clearly to ~1M edges and tied with
# shuffle at 3.4M), taken while each hop join still built its own
# broadcast; it has not been re-measured since they share one. On a
# multi-node cluster the cost that matters is bytes shipped per executor,
# which this count cannot see.
_BROADCAST_EDGES_MAX = 4_000_000
# Hops per block. The hops inside a block do not dedupe, so a block holds
# paths rather than nodes: O(frontier · fanout^depth) rows before its
# groupBy. Catalogue graphs have an average follow fan-out of 1-2, where
# paths ≈ nodes; on denser (untrusted, cyclic) graphs the block shrinks
# to two hops.
_DEPTH = 4
_DENSE_DEPTH = 2
_DENSE_FANOUT = 4.0


def _hop(hop: DataFrame, edges: DataFrame, tag: str, broadcast: bool) -> DataFrame:
    """One frontier ⋈ edges expansion; ``tag`` disambiguates the self-join."""
    eh = edges.alias(tag)
    if broadcast:
        eh = F.broadcast(eh)
    return hop.join(eh, hop["node"] == F.col(f"{tag}._src")).select(
        hop["root"], F.col(f"{tag}._dst").alias("node")
    )


def _union(parts: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.union(b), parts)


def release_checkpoints(frames: Iterable[DataFrame]) -> None:
    """Free the blocks of ``localCheckpoint``ed frames now rather than when
    the ContextCleaner reaches them. ``unpersist`` is a no-op on a
    checkpointed frame: its blocks belong to the RDD its plan scans. Every
    frame must be the checkpoint itself, not a frame derived from it."""
    for df in frames:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def reachable_closure(
    triples: DataFrame,
    seeds: DataFrame,
    max_iters: int = 32,
    checkpoints: list[DataFrame] | None = None,
) -> DataFrame:
    """All nodes reachable from each seed root, following IRI and blank-node
    objects.

    ``seeds``: columns ``root, node``; usually ``root == node`` = the
    dataset subject. ``triples``: the statement table. Returns
    ``(root, node)`` including the seeds themselves; a seed or an edge
    end that is NULL names no node and is dropped.

    Raises ``RuntimeError`` if the frontier is still non-empty after
    ``max_iters`` blocks — a silently truncated closure would quietly drop
    statements on adversarial deep graphs.

    The result reads its blocks from local checkpoints. They are appended
    to ``checkpoints`` when given, for the caller to free with
    :func:`release_checkpoints` once the result is consumed; otherwise the
    ContextCleaner frees them. On any error the blocks are freed here.
    """
    # a checkpoint, not a persist: each hop join's build side is then the
    # same `Scan ExistingRDD`, so AQE plans a block's hop joins against ONE
    # broadcast (or edge shuffle) and reuses it; over a persist each hop
    # reads its own cache scan and rebuilds the broadcast. The not-null
    # filters ride into the checkpoint's constraints, so no hop gets an
    # inferred filter of its own; inferred ones differ between the last
    # hop (isnotnull(_src)) and the inner hops (also isnotnull(_dst)) and
    # would split the block's build sides across two broadcasts
    edges = (
        triples.filter(
            F.col("obj_kind").isin(KIND_IRI, KIND_BNODE)
            & F.col("subj").isNotNull()
            & F.col("obj_value").isNotNull()
        )
        .select(F.col("subj").alias("_src"), F.col("obj_value").alias("_dst"))
        .localCheckpoint(eager=False)
    )
    blocks: list[DataFrame] = []
    try:
        # ONE job fills the checkpoint and reads both gates; the HLL
        # distinct estimate (±5%) is plenty for a coarse fan-out ratio
        stats = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("_src").alias("n_src"),
        ).first()
        broadcast = stats["n"] <= _BROADCAST_EDGES_MAX
        dense = bool(stats["n_src"]) and stats["n"] / stats["n_src"] > _DENSE_FANOUT
        depth = _DENSE_DEPTH if dense else _DEPTH

        # the explicit not-null is the one the first hop join infers: with
        # it the `_k = 0` branch and the hops share one seed shuffle
        frontier = (
            seeds.select("root", "node")
            .filter(F.col("node").isNotNull())
            .distinct()
        )
        pieces: list[DataFrame] = []
        for _ in range(max_iters):
            parts = [frontier.withColumn("_k", F.lit(0))]
            hop = frontier
            for h in range(1, depth + 1):
                hop = _hop(hop, edges, f"_e{h}", broadcast)
                parts.append(hop.withColumn("_k", F.lit(h)))
            # the groupBy keys are the block's node set; max(_k) < depth
            # means every successor of the node was reached in this block
            block = _union(parts).groupBy("root", "node").agg(F.max("_k").alias("_k"))
            if pieces:
                block = block.join(_union(pieces), ["root", "node"], "left_anti")
            block = block.localCheckpoint()
            blocks.append(block)
            pieces.append(block.drop("_k"))
            frontier = block.filter(F.col("_k") == depth).drop("_k")
            if frontier.isEmpty():
                if checkpoints is not None:
                    checkpoints.extend(blocks)
                return _union(pieces)
        raise RuntimeError(
            f"reachable_closure did not converge within {max_iters} "
            f"iterations ({max_iters * depth} hops) — residual frontier is "
            f"non-empty; raise max_iters for deeper graphs"
        )
    except BaseException:
        release_checkpoints(blocks)
        raise
    finally:
        release_checkpoints([edges])


def subgraph_triples(
    triples: DataFrame, closure: DataFrame, root_alias: str = "dataset_id"
) -> DataFrame:
    """J1 step 2: tag every statement with the root(s) whose closure owns it.

    A statement shared by two datasets' closures is emitted for both — same
    semantics as the reference extracting an independent model per dataset.
    """
    return triples.join(closure, closure["node"] == triples["subj"]).select(
        closure["root"].alias(root_alias), *[triples[c] for c in triples.columns]
    )
