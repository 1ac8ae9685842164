"""The dataset split pipeline (reference ``datasetsFlow``, ``Flows.kt:95-136``).

Stage order is load-bearing and mirrors the reference exactly (SURVEY.md §7):
F1 typo cleanup → F2 subject scan → X1 identify → F3 blank filter →
J1 subgraph closure → J3 nested-catalogue subtraction → F4 empty filter.

Where the reference loops dataset-at-a-time over an in-memory Jena model,
this runs set-at-a-time: ONE closure computation for all dataset and
catalogue roots at once (the frontier join parallelizes over every root
simultaneously). No per-dataset Python loop exists anywhere — the dataset
count can be billions.

At 100 TB, feed this a triple table persisted BUCKETED BY ``subj``
(``sources/bucketed.py``): every stage here is a pure filter/project over
the input until the subgraph probe join, so the bucket partitioning
survives, and once the closure side is past the broadcast threshold the
probe join plans with no exchange on the (big) triple side — asserted by
``test_bucketed.py::test_split_probe_side_exchange_free_over_bucketed``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.identify import identify
from ..vocab import DCAT_CATALOG, DCAT_DATASET, DCT_IDENTIFIER, RDF_TYPE
from .cleanup import (
    drop_blank_identifiers,
    remove_lowercase_dataset_typo,
)
from .closure import reachable_closure, subgraph_triples


def split_datasets(
    triples: DataFrame,
    remove_prefix: bool = False,
    precedence_uri_ref: bool = False,
    checkpoints: list[DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split a triple table into per-dataset subgraphs.

    Returns ``(dataset_triples, datasets)``:

    - ``dataset_triples``: the input statement columns + ``dataset_id`` (the
      owning dataset subject URI), after nested-catalogue subtraction;
    - ``datasets``: ``(subj, identifier, n_triples)`` — one row per
      non-blank-id, non-empty dataset (F3 + F4 applied) with its statement
      count in ``dataset_triples``.

    ``triples`` must be cheap to re-read — a table or parquet scan, a
    cache or a checkpoint — because several stages scan it and nothing
    here persists it. The production harvest passes its bucketed-by-``subj``
    table or its in-memory parse cache (``harvest.py``); over the bucketed
    table the column-pruned scan keeps its exchange-free subj distribution
    all the way into the subgraph probe join.

    Both results read local checkpoints. Each one taken here, the
    closure's blocks included, is appended to ``checkpoints`` when given,
    for the caller to free with
    :func:`~.closure.release_checkpoints` once both results are consumed.
    """
    if checkpoints is None:
        checkpoints = []
    t = remove_lowercase_dataset_typo(triples)  # F1, before the scan

    # F2 + X1 in one scan: dataset membership and the min dct:identifier
    # are both per-subj aggregates of the same table, so one filtered
    # groupBy computes both, with no join. Over a bucketed-by-subj input
    # the aggregation is exchange-free.
    is_ds_stmt = (F.col("pred") == RDF_TYPE) & (
        F.col("obj_value") == DCAT_DATASET
    )
    is_id_stmt = F.col("pred") == DCT_IDENTIFIER
    subjects_with_id = (
        t.filter(is_ds_stmt | is_id_stmt)
        .groupBy("subj")
        .agg(
            F.max(is_ds_stmt).alias("_is_ds"),
            F.min(F.when(is_id_stmt, F.col("obj_value"))).alias("_dct_id"),
        )
        .filter(F.col("_is_ds"))
        .select(
            "subj",
            identify(
                F.col("subj"), F.col("_dct_id"), remove_prefix,
                precedence_uri_ref,
            ).alias("identifier"),
        )
    )
    # checkpointed: feeds both the closure seeds and the final F4 join
    named = drop_blank_identifiers(subjects_with_id).localCheckpoint()  # F3
    checkpoints.append(named)

    # J1 + J3 closures FUSED into one loop. The reference computes the
    # catalogue subgraph WITHIN each dataset's extracted model
    # (Flows.kt:117-121). A dataset's node set is forward-closed (its model
    # holds every statement whose subject is reachable), so the within-model
    # closure of a catalogue node equals its GLOBAL closure — which lets the
    # catalogue roots ride the SAME iterative loop as the dataset roots
    # (one fixpoint instead of two: half the checkpoint/isEmpty actions).
    # Catalogue roots are known globally up front (subjects typed
    # dcat:Catalog); closures of catalogue nodes that never occur inside a
    # dataset are tiny wasted work, joined away below.
    ds_seeds = named.select(F.col("subj").alias("root"), F.col("subj").alias("node"))
    cat_roots = (
        t.filter((F.col("pred") == RDF_TYPE) & (F.col("obj_value") == DCAT_CATALOG))
        .select(F.col("subj").alias("root"), F.col("subj").alias("node"))
        .distinct()
        # checkpointed eagerly: three consumers (closure seeds, the
        # ds/cat closure split below, cat_in_ds) would otherwise each
        # re-run the scan + distinct; the set is catalogue-roots-sized
        .localCheckpoint()
    )
    checkpoints.append(cat_roots)
    closure = reachable_closure(
        t, ds_seeds.union(cat_roots), checkpoints=checkpoints
    )

    # Split the closure's roots back into dataset vs catalogue closures
    # with an ANTI join against the small catalogue-root set (a
    # broadcast-sized build side, not the dataset-count-sized `named`).
    # A dataset root D that is ALSO typed dcat:Catalog drops out here: J3
    # would subtract its whole model (cat_root = D ∈ closure(D)) and F4
    # drop it, so dropping its closure up front yields the same `final`
    # without the generate-then-subtract work.
    ds_closure = closure.join(
        cat_roots.select("root"), "root", "left_anti"
    )
    # NO repartition before the checkpoint: localCheckpoint drops
    # outputPartitioning (Scan ExistingRDD — verified empirically), so a
    # pre-checkpoint repartition(dataset_id) is a pure wasted wide shuffle.
    # Downstream groupBy(dataset_id) consumers shuffle off the checkpoint,
    # but F4's counts aggregate reduces map-side first — its exchange
    # carries ~one row per dataset, not the statement table.
    ds_triples = subgraph_triples(t, ds_closure, root_alias="dataset_id")

    # J3: nested-catalogue subtraction — faithful to the reference, which
    # iterates ALL catalogue-typed resources of the extracted model
    # (Flows.kt:117-121) INCLUDING the dataset root itself when it is
    # (mis)typed dcat:Catalog: such a dataset's model empties and F4 drops it.
    #
    # The catalogue roots inside each dataset are detected on the CLOSURE
    # NODE SET, not the extracted statement table — a statement
    # (s, rdf:type, dcat:Catalog) lands in dataset D's model iff s is in
    # D's closure and the statement exists in t, so
    # {(D, s) : s ∈ closure(D)} ⋈ cat_roots is set-identical to filtering
    # ds_triples. That keeps ds_triples SINGLE-consumer: the checkpoint of
    # `final` below is its only materialization.
    cat_in_ds = ds_closure.join(
        cat_roots.select(F.col("root").alias("cat_root")),
        ds_closure["node"] == F.col("cat_root"),
    ).select(F.col("root").alias("dataset_id"), "cat_root")
    removal = (
        cat_in_ds.join(closure, cat_in_ds["cat_root"] == closure["root"])
        .select("dataset_id", F.col("node").alias("subj"))
        .distinct()
    )
    # the finished per-dataset statement table is consumed by several
    # downstream views (F4's counts, canonical hash, renders) — checkpoint it
    # ONCE so every consumer reads materialized blocks instead of re-running
    # the subtraction (at cluster scale this materialization is the bucketed
    # parquet write the resume layer performs anyway)
    final = ds_triples.join(
        removal, ["dataset_id", "subj"], "left_anti"
    ).localCheckpoint()
    checkpoints.append(final)

    # F4: drop datasets whose model ended up empty. ONE per-dataset counts
    # aggregate over `final` is both the filter (the inner join keeps the
    # datasets with at least one statement) and the `n_triples` column the
    # consumers read, so a plan that uses both scans `final` once. It
    # combines map-side, so its exchange carries about one row per dataset
    # per partition.
    counts = final.groupBy(F.col("dataset_id").alias("subj")).agg(
        F.count(F.lit(1)).alias("n_triples")
    )
    datasets = named.join(counts, "subj").select(
        "subj", "identifier", "n_triples"
    )
    return final, datasets
