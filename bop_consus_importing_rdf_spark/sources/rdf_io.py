"""RDF document ingestion (reference S1/S3/S4/S5).

The reference opens a source document (``Flows.kt:47-63``), optionally
gunzips it (CHANGELOG 1.7.0), optionally pre-processes malformed
URIs/encodings (``Flows.kt:52-64``), and parses it into a triple model via
Jena (``JenaUtils.read``, ``Flows.kt:66-77``). Here:

- **acquire + gunzip**: ``spark.read.text`` — Spark decompresses ``.gz``
  sources transparently, one document line per row, partition-parallel.
- **pre-process**: column-expression fix-ups (BOM strip, control-char
  removal, space-in-IRI %-encoding) — reference behavior *(ext)*, applied
  before parse exactly like the temp-file rewrite.
- **parse**: the split-union N-Triples parser :func:`parse_ntriples`
  (N-Triples is the reference's default output syntax and our canonical
  comparison form). Clean lines take a JVM plan: one packed
  ``regexp_replace`` pass and SQL unescaping, codegen'd end to end. Lines
  SQL cannot parse exactly (raw sentinel bytes, ``\\u``/``\\U`` escapes) take
  an assist branch: the exact Python parser in one Arrow-batched pandas
  UDF. The parser is the exact inverse of ``functions/ntriples.py`` —
  round-trip tested. Malformed lines get ``obj_kind = NULL`` so callers
  can count rejects into lineage_metrics (the reference rethrows with
  address context, ``Flows.kt:75-77``).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

PARSED_SCHEMA = (
    "subj string, pred string, obj_value string, obj_kind string, "
    "obj_lang string, obj_datatype string"
)


def plan_barrier() -> Column:
    """An always-true NONDETERMINISTIC predicate, for the split-union
    parsers. Catalyst does not push the branch filters above it, nor
    substitute a projection it rides in, so the two branches keep reading
    one upstream plan (see :func:`parse_ntriples`). Spelled on the
    partition id: Spark 4 folds ``rand() > -1`` to ``true``
    (``OptimizeRand``), which removed the barrier."""
    return F.spark_partition_id() >= F.lit(0)


def barrier_filter(cond: Column) -> Column:
    """A split-union parser's base filter: ``cond`` behind
    :func:`plan_barrier` as ONE nondeterministic conjunct. Predicate
    pushdown splits a filter into conjuncts and moves the deterministic
    ones below a repartition, substituting the producer's projection into
    them, so ``plan_barrier() & cond`` left ``cond`` under the exchange
    re-evaluating the producer's expressions (a render's whole line
    concat chain) in the filter and again in the projection. Folded into
    one ``CASE WHEN``, the filter stays above the exchange and reads the
    produced column."""
    return F.when(plan_barrier(), cond).otherwise(F.lit(False))


def fan_out_lines(lines: DataFrame) -> DataFrame:
    """The split-union parsers' fan-out guard: a narrow line stream (one
    gzip file, a few normalized documents) starves the regex parse stage,
    so it is repartitioned to the session parallelism and MATERIALIZED.
    Left in-plan, predicate pushdown moves the two branches' differing
    filter copies below the repartition exchange onto the narrow source
    partitions, defeating exchange reuse — measured 22.5s in-plan vs 6.1s
    materialized for the identical 905k-line parse. No-op on sized file
    scans, tiny fixtures and streams already at the session parallelism
    (a normalizer's checkpoint)."""
    from ..operators.parallelism import ensure_min_parallelism

    fanned = ensure_min_parallelism(lines, multiplier=8.0)
    return lines if fanned is lines else fanned.localCheckpoint()


def materialize_lines(lines: DataFrame, line_transform=None) -> DataFrame:
    """A line stream that code builds for a split-union parser,
    materialized ONCE: the parse reads its input from several places (both
    branches, a Turtle parse's prefix extraction), so a producer left in
    the plan — a normalizer's Python re-assembly, the N-Quads graph split
    — would run once per reader. ``line_transform`` (Column → Column on
    ``value``) runs before the checkpoint. A narrow stream (a handful of
    document partitions, one small file) is repartitioned to the session
    parallelism first; the parse fan-out guard then no-ops on it."""
    if line_transform is not None:
        lines = lines.withColumn("value", line_transform(F.col("value")))
    target = lines.sparkSession.sparkContext.defaultParallelism
    if lines.rdd.getNumPartitions() < target:
        lines = lines.repartition(target)
    return lines.localCheckpoint()


_NT_LINE = re.compile(
    r"^\s*(?P<subj><[^>]*>|_:\S+)\s+"
    r"<(?P<pred>[^>]*)>\s+"
    r"(?P<obj><[^>]*>|_:\S+|\"(?:[^\"\\]|\\.)*\""
    r"(?:@[A-Za-z][A-Za-z0-9-]*|\^\^<[^>]*>)?)"
    r"\s*\.\s*$"
)

_UNESCAPES = {
    "\\\\": "\\", '\\"': '"', "\\n": "\n", "\\r": "\r", "\\t": "\t",
}
_ESCAPE_RE = re.compile(r"\\(?:[\\\"nrt]|u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8})")


def _unescape(s: str) -> str:
    def sub(m: re.Match) -> str:
        tok = m.group(0)
        if tok in _UNESCAPES:
            return _UNESCAPES[tok]
        return chr(int(tok[2:], 16))  # \uXXXX / \UXXXXXXXX

    return _ESCAPE_RE.sub(sub, s)


_LITERAL_RE = re.compile(r'^"((?:[^"\\]|\\.)*)"(.*)$')


def _parse_one(line: str) -> tuple:
    m = _NT_LINE.match(line)
    if not m:
        return (None, None, line, None, None, None)
    subj = m.group("subj")
    subj = subj[1:-1] if subj.startswith("<") else subj
    pred = m.group("pred")
    obj = m.group("obj")
    if obj.startswith("<"):
        return (subj, pred, obj[1:-1], "iri", None, None)
    if obj.startswith("_:"):
        return (subj, pred, obj, "bnode", None, None)
    # literal: split off @lang / ^^<dt> suffix after the closing quote
    end = obj.rindex('"')
    body, suffix = obj[1:end], obj[end + 1:]
    lang = suffix[1:] if suffix.startswith("@") else None
    dt = suffix[3:-1] if suffix.startswith("^^<") else None
    return (subj, pred, _unescape(body), "literal", lang, dt)


def read_rdf_source(spark: SparkSession, path: str) -> DataFrame:
    """S1+S3: open a (possibly .gz) N-Triples document as one line per row."""
    return spark.read.text(path)


def pre_process_controls(text: Column) -> Column:
    """S4, document-safe half: BOM strip + control chars (except tab).
    Character-local, so safe on whole multi-statement documents."""
    c = F.regexp_replace(text, "﻿", "")
    return F.regexp_replace(c, r"[\x00-\x08\x0b\x0c\x0e-\x1f]", "")


def pre_process_iri_spaces(line: Column) -> Column:
    """S4, line-scoped half: raw spaces inside IRI brackets → %20.

    LINE-oriented by design: ``(<[^> ]*) ([^>]*>)`` pairs the nearest
    ``<``/``>`` — across a whole multi-statement document it can pair a
    ``<`` inside one literal with a ``>`` in a later IRI and rewrite
    literal content across statement boundaries (ADVICE r4). Apply it to
    single statements/lines only; ``harvest.py`` runs it AFTER Turtle
    statement re-assembly and per physical line for TriG."""
    c = line
    # iteratively %-encode spaces inside <...>: one pass handles one space;
    # three passes cover the pathological cases the reference's
    # preProcessing flag exists for
    for _ in range(3):
        c = F.regexp_replace(c, r"(<[^> ]*) ([^>]*>)", r"$1%20$2")
    return c


def pre_process(line: Column) -> Column:
    """S4: fix-ups before parse — BOM strip, control chars (except tab),
    raw spaces inside IRI brackets → %20. For LINE-oriented input; see
    :func:`pre_process_iri_spaces` for why whole documents must split the
    two halves."""
    return pre_process_iri_spaces(pre_process_controls(line))


# 7-group packed spelling: the object alternation captures each variant in
# its OWN group (3 = bracketed IRI, 4 = bnode, 5 = quoted literal incl.
# quotes, 6 = lang, 7 = datatype IRI body). Java substitutes "" for a
# non-participating group in the replacement, so ONE regexp_replace pass
# yields every field and the clean branch needs NO further regex at all —
# the object kind falls out of which group is non-empty (groups 3 and 5
# keep their delimiters, so an empty-IRI/empty-literal object still
# registers as non-empty). This is NOT the round-3 6-group dead end: that
# pattern carried the full object AND the literal body (packed string ~2×
# the line); here each byte of the line lands in at most one group.
_NT_PACKED_PATTERN = (
    r"^\s*(<[^>]*>|_:\S+)\s+"
    r"<([^>]*)>\s+"
    r'(?:(<[^>]*>)|(_:\S+)|("(?:[^"\\]|\\.)*")'
    r"(?:@([A-Za-z][A-Za-z0-9-]*)|\^\^<([^>]*)>)?)"
    r"\s*\.\s*$"
)


def parse_ntriples(
    lines: DataFrame,
    line_col: str = "value",
    keep_malformed: bool = False,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """S5: N-Triples text → statement rows (+ ``carry_cols`` passed through,
    e.g. the graph column :func:`parse_nquads` splits off).

    The ingestion hot path at 100 TB, so the plan SPLITS the line stream on
    a cheap codegen'd predicate and unions two branches:

    - **clean branch** (in practice: everything): a 100% JVM plan — one
      packed ``regexp_replace`` pass for structure, short anchored extracts
      for the object sub-fields, a ``replace``-chain for ECHAR unescaping.
      Whole-stage-codegen end to end, ZERO Python, no Arrow round trip.
    - **assist branch** (lines carrying ``\\x01``/``\\x02`` — plain
      N-Triples PERMITS raw C0 controls in literal bodies, only *canonical*
      NT mandates escapes — or a ``\\u``/``\\U`` sequence, the one construct
      SQL can't unescape): whole-line exact Python parse (``_parse_one``,
      round-trip tested) through one Arrow-batched pandas UDF.

    Earlier rounds kept ONE branch and shipped per-row NULLs to the pandas
    UDFs instead; measured at 905k clean lines / local[32], those always-on
    Python exchanges cost 2.4× end-to-end (6.5s vs 2.7s) even with all-NULL
    batches — the split-union removes them from the hot path entirely, and
    the upstream exchange is reused across the two branches
    (ReusedExchange), so the source is still scanned once per shuffle
    boundary. Other measured dead ends (so nobody re-tries them): a 6-group
    packed pattern (~8% slower — the packed string carries the literal body
    twice), is-literal gating of the short extracts (a wash), and a pandas
    ``.str``-chain rewrite of the fallback (2× slower than the row loop).

    Malformed/comment/blank lines are dropped unless ``keep_malformed``
    (then returned with ``obj_kind`` NULL and the raw line in
    ``obj_value`` for lineage auditing).

    INPUT: both branches read ``lines``, so it should be cheap to scan
    twice — a file scan, a cache or a checkpoint. Code that builds a
    Python or union line stream materializes it once itself (as
    ``turtle_io.normalize_turtle_docs`` does); a live union fed here has
    the assist branch's UDF cloned into every producer branch.
    """
    lines = fan_out_lines(lines)

    @F.pandas_udf(f"struct<{PARSED_SCHEMA}>")
    def _parse_py(s: pd.Series) -> pd.DataFrame:
        cols = ["subj", "pred", "obj_value", "obj_kind", "obj_lang",
                "obj_datatype"]
        return pd.DataFrame(
            [_parse_one(x) for x in s], columns=cols, index=s.index
        )

    # plan barrier, not semantics (see turtle_io._ttl_fallback_udf): keeps
    # PushDownPredicates / constraint inference from substituting the UDF
    # below its projection and planning a second ArrowEvalPython
    _parse_py = _parse_py.asNondeterministic()

    line = F.col(line_col)
    stripped = F.trim(line)
    # The NONDETERMINISTIC base filter keeps itself and the branch filters
    # above it. With an upstream exchange (a repartition, a shuffle) the
    # two branches then share ONE reused upstream execution; without the
    # guard, every branch predicate is pushed into each upstream union
    # branch/scan separately and an expensive producer runs once per
    # branch.
    base = lines.filter(
        barrier_filter((stripped != "") & ~stripped.startswith("#"))
    )
    # assist-branch routing (see docstring): raw sentinel bytes would
    # corrupt the packed split / replace-chain; \u \U need Python. Four
    # non-regex contains probes, codegen'd. A \u inside an IRI or behind an
    # escaped backslash over-routes harmlessly — the Python parser is exact.
    needs_py = (
        line.contains("\x01") | line.contains("\x02")
        | line.contains("\\u") | line.contains("\\U")
    )
    carry = [F.col(c) for c in carry_cols]

    # ONE regex pass over the line: pack ALL SEVEN groups with a \x01
    # separator, then split — the round-2 3-group pack measured 4× cheaper
    # than three independent regexp_extract calls, but still re-ran three
    # anchored extracts on the object for body/lang/datatype; this 7-group
    # pack (see _NT_PACKED_PATTERN) leaves ZERO regex work after the one
    # pass — object kind and every sub-field come from emptiness probes +
    # substring. Sentinel collisions were routed to the assist branch, so
    # arity-7 here really does mean "matched".
    sep = "\x01"
    packed = F.regexp_replace(
        line, _NT_PACKED_PATTERN, sep.join(f"${i}" for i in range(1, 8))
    )
    parts = F.split(packed, sep, -1)
    matched = F.size(parts) == 7
    # F.get (NULL on out-of-bounds), NOT parts[i]: ANSI mode raises on OOB
    subj_raw = F.get(parts, 0)
    pred_raw = F.get(parts, 1)
    iri_raw = F.get(parts, 2)   # bracketed IRI object, "" if not an IRI
    bnode_raw = F.get(parts, 3)
    lit_raw = F.get(parts, 4)   # quoted literal incl. quotes, "" if none
    lang_raw = F.get(parts, 5)
    dt_raw = F.get(parts, 6)

    subj = F.when(
        subj_raw.startswith("<"),
        F.substring(subj_raw, F.lit(2), F.length(subj_raw) - 2),
    ).otherwise(subj_raw)

    is_iri = iri_raw != ""
    is_bnode = bnode_raw != ""
    body_raw = F.substring(lit_raw, F.lit(2), F.length(lit_raw) - 2)
    # ECHAR unescaping in SQL: neutralize escaped backslashes with a \x02
    # sentinel FIRST (replace-chain ordering bug otherwise: the '\' of an
    # unescaped '\\' would fuse with a following 'n'), then the four
    # remaining ECHARs, then restore the backslashes. \u/\U never reaches
    # this branch.
    sent = "\x02"
    step1 = F.replace(body_raw, F.lit("\\\\"), F.lit(sent))
    echar = step1
    for raw, esc in (("n", "\n"), ("r", "\r"), ("t", "\t"), ('"', '"')):
        echar = F.replace(echar, F.lit("\\" + raw), F.lit(esc))
    body = F.replace(echar, F.lit(sent), F.lit("\\"))
    lang = F.nullif(lang_raw, F.lit(""))
    dt = F.nullif(dt_raw, F.lit(""))

    iri_value = F.substring(iri_raw, F.lit(2), F.length(iri_raw) - 2)
    # Malformed-drop happens PER BRANCH, not as an outer
    # filter(obj_kind.isNotNull()) over the union: Catalyst substitutes a
    # computed column's expression into the predicate, so the outer spelling
    # re-evaluates the whole packed-parse chain in the filter on top of the
    # projection — measured 14.5s vs 5.3s for the identical result at 905k
    # lines. The clean branch's cheap equivalent is `matched` (obj_kind is
    # non-NULL iff the pack matched); the assist branch filters on the
    # ArrowEvalPython OUTPUT attribute, which never re-runs the UDF.
    clean_pred = ~needs_py
    if not keep_malformed:
        clean_pred = clean_pred & matched
    clean = base.filter(clean_pred).select(
        *carry,
        F.when(matched, subj).alias("subj"),
        F.when(matched, pred_raw).alias("pred"),
        F.when(~matched, line)
        .when(is_iri, iri_value)
        .when(is_bnode, bnode_raw)
        .otherwise(body)
        .alias("obj_value"),
        F.when(matched & is_iri, "iri")
        .when(matched & is_bnode, "bnode")
        .when(matched, "literal")
        .alias("obj_kind"),
        F.when(matched & ~is_iri & ~is_bnode, lang).alias("obj_lang"),
        F.when(matched & ~is_iri & ~is_bnode, dt).alias("obj_datatype"),
    )
    # struct-attribute filter BEFORE field expansion: filtering the
    # expanded obj_kind column lets CollapseProject substitute the UDF into
    # the predicate and plan a SECOND ArrowEvalPython that re-runs the
    # parser just for the malformed drop (round-5 contract-test finding)
    assist = base.filter(needs_py).select(*carry, _parse_py(line).alias("_p"))
    if not keep_malformed:
        assist = assist.filter(F.col("_p.obj_kind").isNotNull())
    assist = assist.select(*carry, "_p.*")
    return clean.unionByName(assist)


# N-Quads = N-Triples + optional graph label (IRI or bnode) before the dot.
# One regex pass splits the label off; the rest delegates to parse_ntriples,
# so every sentinel / escaping / malformed behavior is inherited verbatim.
_NQ_SPLIT = (
    r"^(\s*(?:<[^>]*>|_:\S+)\s+<[^>]*>\s+"
    r'(?:<[^>]*>|_:\S+|"(?:[^"\\]|\\.)*"'
    r"(?:@[A-Za-z][A-Za-z0-9-]*|\^\^<[^>]*>)?))"
    r"\s+(<[^>]*>|_:\S+)\s*\.\s*$"
)


def parse_nquads(
    lines: DataFrame, line_col: str = "value", keep_malformed: bool = False
) -> DataFrame:
    """S5 (N-Quads): statement rows + ``graph`` column.

    Per the N-Quads spec the graph label is OPTIONAL — a plain N-Triples
    line parses with ``graph`` NULL (the default graph). IRI labels are
    unbracketed; blank-node labels pass through as ``_:…``. The split-off
    line stream is one :func:`materialize_lines` checkpoint, so the label
    split runs once per line, not once per parse branch."""
    line = F.col(line_col)
    # one projection evaluates the regex pass twice per line (the label
    # extract, the rewrite); the label is unbracketed above it, where it
    # is read three times without re-running the extract.
    # matched lines shrink to their SPO triple; unmatched pass through
    # unchanged (either a valid 3-term line → default graph, or malformed)
    split = lines.select(
        F.regexp_extract(line, _NQ_SPLIT, 2).alias("_g"),
        F.regexp_replace(line, _NQ_SPLIT, "$1 .").alias("_nt"),
    )
    g = F.col("_g")
    graph = F.when(
        g.startswith("<"), F.substring(g, F.lit(2), F.length(g) - 2)
    ).otherwise(F.nullif(g, F.lit("")))
    base = materialize_lines(split.select(graph.alias("graph"), "_nt"))
    return parse_ntriples(
        base, "_nt", keep_malformed=keep_malformed, carry_cols=("graph",)
    )
