"""End-to-end KG construction over transcripts (the north-rule DAG).

Replaces the reference's fixed dataflow (``pagesFlow`` → ``datasetsFlow`` →
collect loop, reference ``ImportingRdfVerticle.kt:59-96``) with one Spark
batch DAG:

    transcripts ─ stable order (ONE wide shuffle) ─ fused mention/relation
      extraction (JVM regexp codegen in stacked projections, every regex
      once per turn, see kg/mentions.py) ─ map-lookup linking
      (canonicalization composed in: MinHash→LSH→Jaccard→CC over the
      gazetteer) ─ per-turn triple arrays
      exploded narrowly ─ relation-only conv-level dedup (small shuffle)
      → datasets / manifest / N-Triples render

Each *conversation* plays the role the reference gives a ``dcat:Dataset``:
it gets an identifier, a counter, an N-Triples payload and a canonical hash,
and the run ends with a manifest record per catalogue — semantics preserved
from ``ImportingRdfVerticle.kt:84-96`` incl. duplicates-kept (J4).

Scale notes: the work splits into a per-run dictionary and a per-slice
plan. :func:`build_kg_dictionary` does everything that depends on the
gazetteer alone, once: :func:`small_gazetteer_rows` decides
broadcast-scale vs at-scale, and the broadcast branch turns its rows into
the linking map (canonicalization composed in: MinHash→LSH→Jaccard→CC
over the gazetteer, exact on the driver) and the extraction ``Column``s;
the at-scale branch holds the distributed canonical map instead, so its
driver-side CC fixpoint (O(log d) iterations) also runs once. :func:`kg_triples` then only plans
DataFrames, so a caller that commits one slice at a time
(``plans.resume.run_resumable``) pays the dictionary once per run, not
once per slice. The extraction path moves the corpus through exactly one
wide shuffle (stable ordering) and no Python worker; only relation
triples — the one kind that can duplicate across turns — pay a dedup
shuffle. The extraction is materialized once, as a local checkpoint that
its branches read; a caller that passes a ``checkpoints`` list frees it
after the write, otherwise the ContextCleaner does, so no run leaves
blocks behind in the session. ``rewrite_canonical`` remains the at-scale
path for entity dictionaries too large to compose into the linking map.
Skew: the one wide shuffle is keyed on ``conv_id``, so a hot
conversation's turns share a partition (bounded by its turn count, not
the corpus); the joins after it rely on AQE's skew-join split.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import canonical_hash_agg
from ..functions.ntriples import nt_line
from ..operators.manifest import manifest as manifest_agg
from ..operators.manifest import with_counter
from ..vocab import KG_NS, RDF_TYPE, XSD_NS
from .blocking import entity_similarity_edges
from .cc import connected_components
from .mentions import mention_relation_extractor, with_relation_candidates

PRED_MENTIONS = KG_NS + "pred:mentions"
PRED_RELEASED = KG_NS + "pred:released"
PRED_IN_YEAR = KG_NS + "pred:inYear"
PRED_TEXT = KG_NS + "pred:text"
CLASS_TURN = KG_NS + "class:Turn"
XSD_GYEAR = XSD_NS + "gYear"

#: alias rows up to which the gazetteer is broadcast-scale: matched with a
#: literal trie regex and canonicalized on the driver; past it the
#: gazetteer stays a DataFrame (join matcher, distributed LSH + CC)
SMALL_GAZETTEER_ROWS = 50_000

_log = logging.getLogger(__name__)


def small_gazetteer_rows(aliases: DataFrame) -> list | None:
    """The one gazetteer-scale decision: the gazetteer's rows when it is
    broadcast-scale (at most :data:`SMALL_GAZETTEER_ROWS`), else ``None``.

    One ``take(N + 1)`` is both the probe and, on the broadcast branch, the
    only read of the gazetteer, so every consumer (``build_kg_dictionary``,
    ``canonical_entity_map``, ``stream_extract_triples``) builds from the
    rows it decided on. Logged with the bound and the branch taken."""
    bound = SMALL_GAZETTEER_ROWS
    rows = aliases.take(bound + 1)
    small = len(rows) <= bound
    _log.info(
        "gazetteer scale: %s (%s %d alias rows)",
        "broadcast" if small else "at-scale",
        "at most" if small else "more than",
        bound,
    )
    return rows if small else None


def _turn_uri() -> F.Column:
    return F.format_string("%sturn:%s:%d", F.lit(KG_NS), F.col("conv_id"), F.col("turn_idx"))


def _conv_uri(col: str = "conv_id") -> F.Column:
    return F.concat(F.lit(KG_NS + "conv:"), F.col(col))


def stable_turns(transcripts: DataFrame) -> DataFrame:
    """Stable turn ordering (input_hint invariant): dedupe any accidental
    (conv_id, turn_idx) double-delivery deterministically, then order.

    Partitions by ``conv_id`` ONLY (turn dedup via lag over the in-conv
    sort), so this is the one wide shuffle of the corpus on the
    extraction path. The extraction's local checkpoint does not carry
    this partitioning, so the conv-keyed aggregations behind it take
    their own exchanges; the relation dedup's moves only relation rows,
    map-side combined.
    """
    w = Window.partitionBy("conv_id").orderBy(
        F.col("turn_idx").asc(),
        F.col("ts").asc_nulls_last(),
        F.col("text").asc_nulls_last(),
    )
    prev = F.lag("turn_idx").over(w)
    return (
        transcripts.withColumn("_prev", prev)
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("turn_idx")))
        .drop("_prev")
    )


def sft_examples(
    transcripts: DataFrame,
    k_context: int = 4,
    assistant_role: str = "assistant",
) -> DataFrame:
    """Supervised-fine-tuning example construction from transcripts: one
    training pair per ASSISTANT turn — ``context`` = the previous
    ``k_context`` turns rendered ``role: text`` and newline-joined (in
    stable turn order, fewer when the conversation is younger),
    ``response`` = the assistant turn's text.

    This is the training-data shape a transcript corpus exists to
    produce (input_hint schema ``conv_id, turn_idx, role, text, tool,
    ts``); it rides :func:`stable_turns`, so double-delivered turns are
    dropped by the same deterministic rule as the KG path and the
    example set is reproducible under any partitioning.

    Scale shape: one conv-partitioned window (the same single wide
    shuffle as the extraction path — a hot conversation is bounded by
    its turn count, not the corpus) and a row-local render; no join, no
    driver state. Returns ``(conv_id, turn_idx, context, response,
    n_context_turns)``.
    """
    t = stable_turns(transcripts)
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-k_context, -1)
    )
    # array_sort on (turn_idx, …) structs: collect_list over an ordered
    # window preserves frame order in practice, but sorted-by-construction
    # is the contract the oracle twin can rely on
    ctx = F.array_sort(
        F.collect_list(F.struct("turn_idx", "role", "text")).over(w)
    )
    return (
        t.withColumn("_ctx", ctx)
        .filter(F.col("role") == assistant_role)
        .select(
            "conv_id",
            "turn_idx",
            F.concat_ws(
                "\n",
                F.transform(
                    F.col("_ctx"),
                    lambda s: F.concat(s["role"], F.lit(": "), s["text"]),
                ),
            ).alias("context"),
            F.col("text").alias("response"),
            F.size("_ctx").cast("long").alias("n_context_turns"),
        )
    )


def best_alias_map(aliases: DataFrame) -> dict[str, str]:
    """alias → best entity (argmax prior, deterministic tie-break).

    The gazetteer is a broadcast-scale dimension; resolving the argmax once
    on the driver and shipping it as a literal MapType beats a join + window
    over every mention occurrence (the score depends only on the alias, so
    per-occurrence disambiguation is a pure lookup)."""
    return _best_alias_map_rows(aliases.collect())


def _best_alias_map_rows(rows) -> dict[str, str]:
    """Driver-side core of :func:`best_alias_map` over already-collected
    gazetteer rows — lets :func:`build_kg_dictionary` build the alias list,
    the argmax map and the canonical map from the rows of
    :func:`small_gazetteer_rows`."""
    best: dict[str, tuple[bool, float, str]] = {}
    for r in rows:
        cur = best.get(r.alias)
        # NULL priors lose to every scored row (leading is-None flag —
        # same ordering as matcher.best_alias_entities and the
        # link_entities window's prior DESC NULLS LAST; bare -r.prior
        # would TypeError on None)
        cand = (r.prior is None, -(r.prior or 0.0), r.entity_uri)
        if cur is None or cand < cur:
            best[r.alias] = cand
    return {a: e for a, (_, _, e) in best.items()}


def release_extraction_caches() -> int:
    """A no-op kept for ``perfbench/worker.py``, which calls it between
    jobs and is its only reason to exist: the extraction holds no frame
    registry any more (its local checkpoints go to the caller's
    ``checkpoints`` list or to the ContextCleaner). Returns 0."""
    return 0


_STRUCT_ARR_TYPE = (
    "array<struct<subj:string,pred:string,obj_value:string,"
    "obj_kind:string,obj_lang:string,obj_datatype:string>>"
)


def _row(subj, pred, obj, kind, lang=None, dt=None):
    return F.struct(
        subj.cast("string").alias("subj"),
        F.lit(pred).cast("string").alias("pred"),
        obj.cast("string").alias("obj_value"),
        F.lit(kind).cast("string").alias("obj_kind"),
        F.lit(lang).cast("string").alias("obj_lang"),
        F.lit(dt).cast("string").alias("obj_datatype"),
    )


@dataclass(frozen=True)
class ExtractionColumns:
    """The broadcast-scale extraction as prebuilt ``Column``s over a turns
    frame (``conv_id, turn_idx, text``).

    The gazetteer is baked in as literals (the trie pattern, the membership
    array, the alias → entity map), so BUILDING these is the driver-side
    cost — one Py4J call per literal, thousands for a real gazetteer —
    while applying them to another slice of turns costs nothing."""

    #: adds the fused ``struct<mentions, rel>`` extraction as ``_mr``
    #: (:func:`~.mentions.mention_relation_extractor`; holds the trie
    #: pattern and membership array ``Column``s)
    add_mr: Callable[[DataFrame], DataFrame]
    #: per-turn ``array<triple struct>`` over ``_mr``, exploded as ``t``
    turn_rows: Column
    #: select list of the relation branch over ``_mr`` (subj … obj_datatype)
    rel_rows: tuple[Column, ...]


def extraction_columns(
    alias_list: list[str], entity_map: dict[str, str]
) -> ExtractionColumns:
    """Build the :class:`ExtractionColumns` for one gazetteer.

    ``entity_map`` is alias → entity URI; :func:`build_kg_dictionary`
    passes the CANONICALIZED composition so no rewrite join is needed
    afterwards."""
    entity_of = F.create_map(
        *[F.lit(x) for kv in sorted(entity_map.items()) for x in kv]
    )
    turn_uri = _turn_uri()
    mention_structs = F.transform(
        F.array_distinct(
            F.transform(F.col("_mr.mentions"), lambda m: entity_of[m])
        ),
        lambda e: _row(turn_uri, PRED_MENTIONS, e, "iri"),
    )
    rel = F.col("_mr.rel")
    year_structs = F.when(
        rel["subj_alias"].isNotNull(),
        F.array(
            _row(turn_uri, PRED_IN_YEAR, rel["year"], "literal", dt=XSD_GYEAR)
        ),
    ).otherwise(F.array().cast(_STRUCT_ARR_TYPE))
    fixed_structs = F.array(
        _row(turn_uri, PRED_TEXT, F.col("text"), "literal"),
        _row(turn_uri, RDF_TYPE, F.lit(CLASS_TURN), "iri"),
    )
    return ExtractionColumns(
        add_mr=mention_relation_extractor(alias_list),
        turn_rows=F.explode(
            F.concat(mention_structs, year_structs, fixed_structs)
        ).alias("t"),
        rel_rows=(
            entity_of[rel["subj_alias"]].alias("subj"),
            F.lit(PRED_RELEASED).alias("pred"),
            entity_of[rel["obj_alias"]].alias("obj_value"),
            F.lit("iri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_datatype"),
        ),
    )


def extract_candidate_triples(
    turns: DataFrame,
    columns: ExtractionColumns,
    checkpoints: list[DataFrame] | None = None,
) -> DataFrame:
    """Per-turn triple extraction: mention, relation, year, text, type rows.

    Dedup-by-construction, shuffle-minimal:

    - text/type/year/mention triples have the TURN URI (or a per-turn
      unique key) as subject, so they cannot duplicate across turns —
      emitted narrowly (mention duplicates within a turn collapse with an
      ``array_distinct`` over the *string* entity array, which is cheap;
      struct-array equality is interpreted and 2.4× slower).
    - only relation triples (entity-subject) can repeat across a
      conversation's turns → they alone pay the conv-level dedup shuffle,
      a few % of the bytes.

    The fused extraction frame is a lazy local checkpoint, filled by the
    first job that reads it. It is appended to ``checkpoints`` when given,
    for the caller to free with ``operators.closure.release_checkpoints``
    once the result is written; otherwise the ContextCleaner frees it.
    """
    # checkpointed: the per-turn branch and the relation branch both read
    # this, so the extraction subtree (the template pass, its rlike, the
    # trie mention pass and the group strips over the corpus text) runs
    # once. Projected to the three columns the consumers read, so
    # role/tool/ts are not stored in its blocks.
    with_m = (
        turns.select("conv_id", "turn_idx", "text")
        .transform(columns.add_mr)
        .localCheckpoint(eager=False)
    )
    if checkpoints is not None:
        checkpoints.append(with_m)
    per_turn = with_m.select(
        "conv_id", "turn_idx", columns.turn_rows
    ).select("conv_id", "turn_idx", "t.*")

    rel_rows = (
        with_m.filter(F.col("_mr.rel.subj_alias").isNotNull())
        .select("conv_id", "turn_idx", *columns.rel_rows)
        .groupBy(
            "conv_id", "subj", "pred", "obj_value", "obj_kind",
            "obj_lang", "obj_datatype",
        )
        .agg(F.min("turn_idx").alias("turn_idx"))
    )
    return per_turn.unionByName(rel_rows)


def extract_candidate_triples_join(
    turns: DataFrame,
    match_table: DataFrame,
    best: DataFrame,
    checkpoints: list[DataFrame] | None = None,
) -> DataFrame:
    """At-scale twin of :func:`extract_candidate_triples`: the gazetteer
    stays a DataFrame end to end (no ``alias_list`` / ``best_alias_map``
    driver collects) — tokenize + candidate join against ``match_table``
    (``matcher.alias_match_table``) + per-turn longest-match
    verification, see ``kg/matcher.py``. Emits the best-alias entity URIs
    of ``best`` (``matcher.best_alias_entities``); ``build_kg``'s at-scale
    branch follows with ``rewrite_canonical``.
    Its enriched-turns checkpoint goes to ``checkpoints`` by the same rule
    as :func:`extract_candidate_triples`.

    Triple-set equality with the regex path is asserted by
    ``test_kg_pipeline::test_build_kg_at_scale_path_matches_broadcast_path``
    (which sets ``SMALL_GAZETTEER_ROWS`` to 0, routing extraction through
    this function).
    """
    from .matcher import with_matched_mentions

    enriched = (
        with_matched_mentions(
            turns.select("conv_id", "turn_idx", "text"), match_table
        )
        .transform(with_relation_candidates)
        # four branches read this subtree, so it materializes once
        .localCheckpoint()
    )
    if checkpoints is not None:
        checkpoints.append(enriched)

    turn_uri = _turn_uri()
    # fixed per-turn rows need no gazetteer at all
    fixed = enriched.select(
        "conv_id",
        "turn_idx",
        F.explode(
            F.array(
                _row(turn_uri, PRED_TEXT, F.col("text"), "literal"),
                _row(turn_uri, RDF_TYPE, F.lit(CLASS_TURN), "iri"),
            )
        ).alias("t"),
    ).select("conv_id", "turn_idx", "t.*")

    # mention rows: explode distinct matched aliases, map via the join —
    # distinct again at entity level (two aliases can share an entity,
    # mirroring the regex path's array_distinct AFTER mapping)
    mention_rows = (
        enriched.select(
            "conv_id",
            "turn_idx",
            F.explode(F.array_distinct("mentions")).alias("alias"),
        )
        .join(best, "alias")
        .select("conv_id", "turn_idx", F.col("entity_uri"))
        .distinct()
        .select(
            "conv_id",
            "turn_idx",
            _turn_uri().alias("subj"),
            F.lit(PRED_MENTIONS).alias("pred"),
            F.col("entity_uri").alias("obj_value"),
            F.lit("iri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_datatype"),
        )
    )

    # relation membership = the alias join itself (every alias row maps to
    # its argmax entity; an inner join is the membership gate)
    relc = F.col("_relc")
    valid_rel = (
        enriched.filter(relc["subj_alias"].isNotNull())
        .select(
            "conv_id",
            "turn_idx",
            relc["subj_alias"].alias("_sa"),
            relc["obj_alias"].alias("_oa"),
            relc["year"].alias("_year"),
        )
        .join(best.withColumnRenamed("alias", "_sa"), "_sa")
        .withColumnRenamed("entity_uri", "_se")
        .join(best.withColumnRenamed("alias", "_oa"), "_oa")
        .withColumnRenamed("entity_uri", "_oe")
    )
    year_rows = valid_rel.select(
        "conv_id",
        "turn_idx",
        _turn_uri().alias("subj"),
        F.lit(PRED_IN_YEAR).alias("pred"),
        F.col("_year").alias("obj_value"),
        F.lit("literal").alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(XSD_GYEAR).alias("obj_datatype"),
    )
    rel_rows = (
        valid_rel.select(
            "conv_id",
            "turn_idx",
            F.col("_se").alias("subj"),
            F.lit(PRED_RELEASED).alias("pred"),
            F.col("_oe").alias("obj_value"),
            F.lit("iri").alias("obj_kind"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_datatype"),
        )
        .groupBy(
            "conv_id", "subj", "pred", "obj_value", "obj_kind",
            "obj_lang", "obj_datatype",
        )
        .agg(F.min("turn_idx").alias("turn_idx"))
    )
    return (
        fixed.unionByName(mention_rows)
        .unionByName(year_rows)
        .unionByName(rel_rows)
    )


def canonical_entity_map(aliases: DataFrame) -> DataFrame:
    """``(entity_uri, canonical_id)`` via similarity blocking + CC.

    canonical_id = lexicographic min URI of the merged component.

    Two physical strategies, same semantics, picked by
    :func:`small_gazetteer_rows`:

    - **broadcast-scale**: a dozen Spark jobs of fixed overhead dwarf the
      work, so the taken rows get exact shingle-Jaccard + union-find on the
      driver. (Exact — a strict superset of what LSH recall gives.)
    - **at scale**: MinHash/LSH blocking self-join + distributed CC
      (``entity_similarity_edges`` + ``connected_components``) — never
      materializes the pair space.
    """
    rows = small_gazetteer_rows(aliases)
    if rows is None:
        return _distributed_canonical_map(aliases)
    return _canonical_frame(aliases.sparkSession, _driver_canonical_map(rows))


def _distributed_canonical_map(aliases: DataFrame) -> DataFrame:
    edges = entity_similarity_edges(aliases)
    comp = connected_components(edges)
    all_entities = aliases.select("entity_uri").distinct()
    return all_entities.join(
        comp.withColumnRenamed("node", "entity_uri"), "entity_uri", "left"
    ).select(
        "entity_uri",
        F.coalesce("component", F.col("entity_uri")).alias("canonical_id"),
    )


def _canonical_frame(
    spark: SparkSession, mapping: dict[str, str]
) -> DataFrame:
    """The driver-built canonical map as a local frame (costs no job)."""
    return spark.createDataFrame(
        sorted(mapping.items()), "entity_uri string, canonical_id string"
    )


def _driver_canonical_map(
    rows,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> dict[str, str]:
    """Exact driver-side twin of the distributed canonicalization, over
    gazetteer rows (``entity_uri``, ``alias``).

    Mirrors ``blocking.entity_profiles`` (legal-suffix normalization, sorted
    deduped profile) + exact Jaccard at the same threshold + union-find.
    """
    import re
    from collections import defaultdict

    from .blocking import _LEGAL_SUFFIXES

    pairs = [(r.entity_uri, r.alias) for r in rows]
    profiles: dict[str, set[str]] = defaultdict(set)
    for uri, alias in pairs:
        norm = re.sub(r"\s+", " ", re.sub(_LEGAL_SUFFIXES, "", alias.lower())).strip()
        if norm:
            profiles[uri].add(norm)

    shingles: dict[str, frozenset[str]] = {}
    for uri, norms in profiles.items():
        text = "|".join(sorted(norms))
        if len(text) < shingle_n:
            shingles[uri] = frozenset([text])
        else:
            shingles[uri] = frozenset(
                text[i : i + shingle_n]
                for i in range(len(text) - shingle_n + 1)
            )

    parent: dict[str, str] = {u: u for u, _ in pairs}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo

    # inverted index: only compare entities sharing ≥1 shingle
    by_shingle: dict[str, list[str]] = defaultdict(list)
    for uri in sorted(shingles):
        for s in shingles[uri]:
            by_shingle[s].append(uri)
    seen: set[tuple[str, str]] = set()
    for bucket in by_shingle.values():
        for i, a in enumerate(bucket):
            for b in bucket[i + 1 :]:
                key = (a, b) if a < b else (b, a)
                if key in seen:
                    continue
                seen.add(key)
                sa, sb = shingles[a], shingles[b]
                jac = len(sa & sb) / len(sa | sb)
                if jac >= threshold:
                    union(a, b)

    return {u: find(u) for u in parent}


def rewrite_canonical(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """Rewrite subj/obj IRIs through the canonical map (two left joins),
    then drop exact-duplicate statements per conversation.

    No forced broadcast: this is ``build_kg``'s AT-SCALE rewrite path,
    whose whole reason to exist is a canonical map too big to hold on the
    driver — an explicit ``F.broadcast(canon)`` would collect exactly
    that map driver-side and re-create the OOM the branch avoids. AQE
    picks a broadcast join on its own whenever the map measures small at
    runtime; past the threshold these plan as shuffle joins on uniform
    URI keys, the correct 10^8-entity shape."""
    c_subj = canon.select(
        F.col("entity_uri").alias("subj"), F.col("canonical_id").alias("_cs")
    )
    c_obj = canon.select(
        F.col("entity_uri").alias("obj_value"), F.col("canonical_id").alias("_co")
    )
    out = (
        triples.join(c_subj, "subj", "left")
        .join(c_obj, ["obj_value"], "left")
        .withColumn("subj", F.coalesce("_cs", F.col("subj")))
        .withColumn(
            "obj_value",
            F.when(
                F.col("obj_kind") == "iri", F.coalesce("_co", F.col("obj_value"))
            ).otherwise(F.col("obj_value")),
        )
        .drop("_cs", "_co")
    )
    # conv-level statement dedup (Jena models are statement SETS — SURVEY
    # §1.1). A min-agg instead of dropDuplicates: same shuffle, but the
    # surviving turn_idx lineage is deterministic (dropDuplicates keeps an
    # arbitrary row) and partial aggregation combines map-side.
    key = ["conv_id", "subj", "pred", "obj_value", "obj_kind", "obj_lang",
           "obj_datatype"]
    return out.groupBy(*key).agg(F.min("turn_idx").alias("turn_idx"))


@dataclass(frozen=True)
class KGDictionary:
    """Everything the KG DAG derives from the gazetteer alone — built once
    per run by :func:`build_kg_dictionary`, applied to any number of
    transcript slices by :func:`kg_triples`."""

    #: ``(entity_uri, canonical_id)``: driver-built rows when
    #: broadcast-scale, the distributed blocking + CC frame at scale
    canon: DataFrame
    #: the broadcast-scale extraction; ``None`` selects the at-scale
    #: join-based matcher + ``rewrite_canonical``
    columns: ExtractionColumns | None
    #: at scale, the join matcher's validated ``(first_token, alias)``
    #: table (``matcher.alias_match_table``); ``None`` at broadcast scale
    match_table: DataFrame | None = None
    #: at scale, ``(alias, entity_uri)`` argmax linking
    #: (``matcher.best_alias_entities``); ``None`` at broadcast scale
    best: DataFrame | None = None


def build_kg_dictionary(
    spark: SparkSession, aliases: DataFrame
) -> KGDictionary:
    """The per-run dictionary side of :func:`build_kg`.

    Two physical strategies, picked once by :func:`small_gazetteer_rows`:

    - **broadcast-scale dictionary**: the taken rows are the whole
      dictionary side — the canonical map composes INTO the linking map
      (alias → canonical entity), extraction emits canonical URIs
      directly, and the post-hoc rewrite joins vanish from the hot path.
    - **at scale**: NOTHING gazetteer-sized touches the driver. Extraction
      runs the join-based matcher (``extract_candidate_triples_join`` /
      ``kg/matcher.py`` — tokenize + candidate join + per-turn
      longest-match verification, argmax linking as a struct-min
      aggregate), the canonical map is the distributed blocking + CC
      frame, and the canonical rewrite runs as ``rewrite_canonical``'s
      broadcast/shuffle joins. Same triple set — ``test_kg_pipeline``
      asserts equality between the two paths. A mined 10^8-alias
      dictionary flows through this branch end to end as DataFrames; its
      match table (one validation job) and argmax frame are built here,
      once per run, not per :func:`kg_triples` call.
    """
    rows = small_gazetteer_rows(aliases)
    if rows is None:
        from .matcher import alias_match_table, best_alias_entities

        return KGDictionary(
            _distributed_canonical_map(aliases),
            None,
            alias_match_table(aliases),
            best_alias_entities(aliases),
        )
    best = _best_alias_map_rows(rows)
    mapping = _driver_canonical_map(rows)
    columns = extraction_columns(
        sorted({r.alias for r in rows}),
        {a: mapping.get(e, e) for a, e in best.items()},
    )
    return KGDictionary(_canonical_frame(spark, mapping), columns)


def kg_triples(
    dictionary: KGDictionary,
    transcripts: DataFrame,
    checkpoints: list[DataFrame] | None = None,
) -> DataFrame:
    """The per-slice side of :func:`build_kg`: the triples plan for
    ``transcripts`` under a prebuilt dictionary — stable ordering,
    extraction, canonical linking and the ``dataset_id`` column.

    The broadcast-scale path only plans: its extraction checkpoint is
    lazy. The at-scale path runs its eager checkpoint here (the alias
    validation job ran once, in :func:`build_kg_dictionary`). Either path
    appends its one extraction checkpoint to ``checkpoints`` when
    given."""
    turns = stable_turns(transcripts)
    if dictionary.columns is not None:
        triples = extract_candidate_triples(
            turns, dictionary.columns, checkpoints
        )
    else:
        raw = extract_candidate_triples_join(
            turns, dictionary.match_table, dictionary.best, checkpoints
        )
        triples = rewrite_canonical(raw, dictionary.canon)
    return triples.withColumn("dataset_id", _conv_uri())


def build_kg(
    spark: SparkSession,
    transcripts: DataFrame,
    aliases: DataFrame,
    catalogue: str = "transcripts",
) -> dict[str, DataFrame]:
    """Run the full DAG. Returns {triples, entities, datasets, manifest}.

    The dictionary (:func:`build_kg_dictionary`, broadcast-scale vs
    at-scale strategy) and the triples plan (:func:`kg_triples`) are the two parts
    a resumable run calls separately; this adds the per-conversation
    datasets, the manifest and the entity table on top.
    """
    dictionary = build_kg_dictionary(spark, aliases)
    triples = kg_triples(dictionary, transcripts)

    rendered = triples.withColumn(
        "nt",
        nt_line(
            F.col("subj"), F.col("pred"), F.col("obj_value"),
            F.col("obj_kind"), F.col("obj_lang"), F.col("obj_datatype"),
        ),
    )
    per_conv = rendered.groupBy("conv_id").agg(
        F.concat_ws("\n", F.array_sort(F.collect_list("nt"))).alias("nt_payload"),
        canonical_hash_agg("nt"),
        F.count(F.lit(1)).alias("n_triples"),
    )
    datasets = with_counter(
        per_conv.select(
            F.lit(catalogue).alias("catalogue"),
            _conv_uri().alias("subj"),
            F.col("conv_id").alias("identifier"),
            "nt_payload",
            "content_hash",
            "n_triples",
        )
    )
    mf = manifest_agg(datasets)
    entities = (
        triples.filter(F.col("pred") == PRED_MENTIONS)
        .groupBy(F.col("obj_value").alias("canonical_id"))
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .join(
            dictionary.canon.groupBy("canonical_id").agg(
                F.collect_set("entity_uri").alias("merged_uris")
            ),
            "canonical_id",
            "left",
        )
    )
    return {
        "triples": triples,
        "entities": entities,
        "datasets": datasets,
        "manifest": mf,
    }
