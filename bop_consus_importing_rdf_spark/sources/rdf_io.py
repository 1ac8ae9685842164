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
- **parse**: :func:`split_union_parse`, the one split-union skeleton every
  line parser (N-Triples / N-Quads here, Turtle and TriG in
  ``turtle_io``, flattened JSON-LD in ``jsonld_io``) runs through: lines
  SQL can parse exactly take an all-JVM codegen branch, the rest take one
  Arrow-batched exact Python parser. :func:`parse_ntriples` (N-Triples
  is the reference's default output syntax and our canonical comparison
  form) is the exact inverse of ``functions/ntriples.py`` — round-trip
  tested. Malformed lines get ``obj_kind = NULL`` so callers can count
  rejects into lineage_metrics (the reference rethrows with address
  context, ``Flows.kt:75-77``).
- **whole documents**: :func:`parse_docs`, the one per-document driver
  every whole-document syntax (Turtle and TriG re-assembly in
  ``turtle_io``, compact JSON-LD in ``jsonld_io``, RDF/XML in
  ``functions/rdfxml``) runs through; each supplies only its
  ``(text, base) → rows`` function. The driver owns the Arrow-batched
  loop, the per-row base IRI, the :data:`MAX_DOC_BYTES` bound and the
  reject row.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

PARSED_COLUMNS = (
    "subj", "pred", "obj_value", "obj_kind", "obj_lang", "obj_datatype"
)
PARSED_SCHEMA = ", ".join(f"{c} string" for c in PARSED_COLUMNS)


def plan_barrier() -> Column:
    """An always-true NONDETERMINISTIC predicate, for the split-union
    parsers. Catalyst does not push the branch filters above it, nor
    substitute a projection it rides in, so the two branches keep reading
    one upstream plan (see :func:`split_union_parse`). Spelled on the
    partition id: Spark 4 folds ``rand() > -1`` to ``true``
    (``OptimizeRand``), which removed the barrier."""
    return F.spark_partition_id() >= F.lit(0)


def needs_exact_parse(line: Column) -> Column:
    """The N-Triples/Turtle routing predicate of :func:`split_union_parse`:
    a raw ``\\x01``/``\\x02`` byte (plain N-Triples and Turtle PERMIT raw
    C0 controls in literal bodies; they would corrupt the clean branch's
    in-band sentinels) or a ``\\u``/``\\U`` escape (the one construct the
    SQL replace-chain cannot unescape). Four non-regex contains probes,
    codegen'd. A ``\\u`` inside an IRI or behind an escaped backslash
    over-routes harmlessly — the Python parser is exact."""
    return (
        line.contains("\x01") | line.contains("\x02")
        | line.contains("\\u") | line.contains("\\U")
    )


def _exact_parse_udf(parse_one: Callable[[str], tuple]):
    """The assist branch's exact parser: ``parse_one`` (line → a
    :data:`PARSED_COLUMNS` tuple) over Arrow batches.

    Marked nondeterministic (it is not, semantically) as a PLAN BARRIER:
    a deterministic UDF referenced by the malformed-drop filter gets
    substituted below the output projection by PushDownPredicates — and
    InferFiltersFromConstraints re-derives pushable isnotnull copies even
    behind a nondeterministic guard conjunct — planning a SECOND
    ArrowEvalPython that re-runs the parser per consumer. Nondeterminism
    is the one property every such rule refuses to move or duplicate."""

    @F.pandas_udf(f"struct<{PARSED_SCHEMA}>")
    def _parse_fallback(s: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [parse_one(x) for x in s], columns=PARSED_COLUMNS, index=s.index
        )

    return _parse_fallback.asNondeterministic()


def split_union_parse(
    lines: DataFrame,
    line_col: str,
    base: Column,
    needs_exact: Column,
    clean: Callable[[DataFrame], DataFrame],
    parse_one: Callable[[str], tuple],
    keep_malformed: bool,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The one split-union line parse: rows of ``lines`` passing ``base``
    (blank/comment/directive tests) split on ``needs_exact`` into two
    branches whose :data:`PARSED_COLUMNS` rows (+ ``carry_cols``) are
    unioned.

    - **clean branch** (``~needs_exact`` — in practice everything):
      ``clean`` projects the routed rows with pure column expressions,
      whole-stage codegen end to end, ZERO Python, no Arrow round trip,
      and drops its own malformed rows unless ``keep_malformed``.
    - **assist branch** (``needs_exact`` — lines SQL cannot parse
      exactly): ``parse_one`` on the whole line through ONE Arrow-batched
      pandas UDF (:func:`_exact_parse_udf`).

    Each syntax supplies only ``base``, ``needs_exact``, ``clean`` and
    ``parse_one``; the plan discipline, each rule measured once, lives
    here:

    - One branch fed per-row NULLs to an always-on pandas UDF: at 905k
      clean lines / local[32] that Python exchange cost 2.4× end-to-end
      (6.5s vs 2.7s) even with all-NULL batches, and folding the assist
      UDF into per-column ``when(needs, udf[...])`` coalesces cost 59.7s
      vs 4.6s (JSON-LD) and ~30s vs ~6s (Turtle). The split removes
      Python from the hot path; the upstream exchange is reused across
      the two branches (ReusedExchange), so the source is still scanned
      once per shuffle boundary.
    - ``base`` runs behind :func:`plan_barrier` as ONE nondeterministic
      conjunct, ``CASE WHEN plan_barrier() THEN base ELSE false``, which
      keeps itself and the branch filters above it. With an upstream
      exchange the branches then share one reused upstream execution;
      without the barrier every branch predicate — a directive ``rlike``
      included — is pushed into each upstream union branch or scan
      separately and an expensive producer re-runs per branch (measured
      38-61s vs ~7s on the 905k-line rendered input). As
      ``plan_barrier() & base``, pushdown split the conjuncts and moved
      ``base`` below an upstream repartition, substituting the producer's
      projection (a render's whole line concat chain) into it.
    - The malformed drop happens PER BRANCH, never as an outer
      ``filter(obj_kind.isNotNull())`` over the union: Catalyst
      substitutes a computed column's expression into the predicate, so
      the outer spelling re-evaluates the whole clean parse chain in the
      filter on top of the projection (14.5s vs 5.3s at 905k lines). The
      assist branch filters the ArrowEvalPython OUTPUT struct BEFORE field
      expansion: filtering the expanded ``obj_kind`` column lets
      CollapseProject substitute the UDF into the predicate and plan a
      SECOND ArrowEvalPython that re-runs the parser just for the drop.

    INPUT: both branches read ``lines``, so it should be cheap to scan
    twice — a file scan, a cache or a checkpoint. Code that builds a
    Python or union line stream materializes it once itself
    (:func:`materialize_lines`); a live union fed here has the assist
    branch's UDF cloned into every producer branch (measured 5× plan
    inflation off an 18-branch render union). The parse-stage fan-out
    guard (:func:`fan_out_lines`) is the caller's: it applies where the
    line stream may be narrow."""
    kept = lines.filter(F.when(plan_barrier(), base).otherwise(F.lit(False)))
    assist = kept.filter(needs_exact).select(
        *carry_cols, _exact_parse_udf(parse_one)(F.col(line_col)).alias("_p")
    )
    if not keep_malformed:
        assist = assist.filter(F.col("_p.obj_kind").isNotNull())
    return clean(kept.filter(~needs_exact)).unionByName(
        assist.select(*carry_cols, "_p.*")
    )


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


#: one document is parsed by one task (the reference's per-document Jena
#: read, ``Flows.kt:66-77``); past ~1GB a single document also approaches
#: Spark's single-string limits, so fail loudly with actionable guidance
#: instead of OOMing mid-task.
MAX_DOC_BYTES = 1 << 30


def parse_docs(
    docs: DataFrame,
    doc_col: str,
    parse_doc: Callable[[str, str | None], Iterable[tuple]],
    fields: tuple[str, ...],
    carry_cols: tuple[str, ...] = (),
    base_iri: str | None = None,
    base_iri_col: str | None = None,
    rejects: tuple[type[Exception], ...] = (),
    keep_malformed: bool = False,
) -> DataFrame:
    """The one per-document parse of the whole-document syntaxes (Turtle
    and TriG re-assembly, compact JSON-LD, RDF/XML): ``parse_doc(text,
    base)`` yields one ``fields`` tuple per output row, run per document
    in one Arrow-batched ``mapInPandas`` pass; rows are ``carry_cols`` +
    ``fields``, all strings. Parallelism is ACROSS documents, as in the
    reference, which reads one document single-threaded through Jena.

    - **base**: a non-empty ``base_iri_col`` cell (``input_file_name()``
      on a multi-file read — each document resolves against its OWN
      address, reference ``Flows.kt:69``) wins, otherwise ``base_iri``
      (``input_file_name()`` is ``''`` on a non-file source).
    - **size**: a document past :data:`MAX_DOC_BYTES` raises, whatever
      ``keep_malformed`` says.
    - **rejects**: a ``rejects`` exception becomes ONE reject row under
      ``keep_malformed`` — every field NULL except ``obj_value``, which
      holds the error text (the reference rethrows with address context,
      ``Flows.kt:75-77``; here the address is a carry column) — and is
      raised otherwise."""
    carry = list(carry_cols)
    names = [*carry, *fields]
    schema = ", ".join(f"{c} string" for c in names)

    def reject_row(e: Exception) -> tuple:
        err = f"{type(e).__name__}: {e}"
        return tuple(err if f == "obj_value" else None for f in fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                text = r[doc_col]
                if text is not None and len(text) > MAX_DOC_BYTES:
                    raise ValueError(
                        f"document of {len(text)} chars exceeds the "
                        f"{MAX_DOC_BYTES}-byte single-document limit — "
                        "split the dump into parts (document parsing "
                        "parallelizes across documents, not within one)"
                    )
                base = (r[base_iri_col] if base_iri_col else None) or base_iri
                try:
                    out = list(parse_doc(text, base))
                except rejects as e:
                    if not keep_malformed:
                        raise
                    out = [reject_row(e)]
                prefix = [r[c] for c in carry]
                rows.extend([*prefix, *o] for o in out)
            yield pd.DataFrame(rows, columns=names)

    return docs.mapInPandas(run, schema)


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
    literal content across statement boundaries. Apply it to
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
# registers as non-empty). This is NOT the measured 6-group dead end: that
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
    e.g. the graph column :func:`parse_nquads` splits off), through
    :func:`split_union_parse` behind the :func:`fan_out_lines` guard.

    The ingestion hot path at 100 TB. The clean branch is one packed
    ``regexp_replace`` pass for structure, emptiness probes and substrings
    for the object sub-fields, a ``replace``-chain for ECHAR unescaping;
    lines :func:`needs_exact_parse` routes take ``_parse_one``
    (round-trip tested). Measured dead ends (so nobody re-tries them): a
    6-group packed pattern (~8% slower — the packed string carries the
    literal body twice), is-literal gating of the short extracts (a
    wash), and a pandas ``.str``-chain rewrite of the exact parser (2×
    slower than the row loop).

    Malformed/comment/blank lines are dropped unless ``keep_malformed``
    (then returned with ``obj_kind`` NULL and the raw line in
    ``obj_value`` for lineage auditing). Input contract: see
    :func:`split_union_parse`.
    """
    line = F.col(line_col)
    stripped = F.trim(line)

    # ONE regex pass over the line: pack ALL SEVEN groups with a \x01
    # separator, then split — a 3-group pack measured 4× cheaper than
    # three independent regexp_extract calls, but still re-ran three
    # anchored extracts on the object for body/lang/datatype; this 7-group
    # pack (see _NT_PACKED_PATTERN) leaves ZERO regex work after the one
    # pass — object kind and every sub-field come from emptiness probes +
    # substring. Sentinel collisions were routed to the assist branch, so
    # arity-7 here really does mean "matched".
    sep = "\x01"
    packed = F.regexp_replace(
        line, _NT_PACKED_PATTERN, sep.join(f"${i}" for i in range(1, 8))
    )
    # the clean branch reads the split pack from an attribute (step 1
    # below), so every field and the malformed filter share ONE regex pass
    parts = F.col("_parts")
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

    def clean(routed: DataFrame) -> DataFrame:
        # two-step, as turtle_io's clean branch: the packed split is
        # projected ONCE into an attribute next to the guard COLUMN, so
        # the malformed filter on ``_g & matched`` stays
        # nondeterministic-derived and is not substituted below the
        # projection, where it would re-run the regex pass per line
        step = routed.select(
            *carry_cols,
            line.alias("_l"),
            plan_barrier().alias("_g"),
            F.split(packed, sep, -1).alias("_parts"),
        )
        if not keep_malformed:
            step = step.filter(F.col("_g") & matched)
        return step.select(
            *carry_cols,
            F.when(matched, subj).alias("subj"),
            F.when(matched, pred_raw).alias("pred"),
            F.when(~matched, F.col("_l"))
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

    return split_union_parse(
        fan_out_lines(lines),
        line_col,
        base=(stripped != "") & ~stripped.startswith("#"),
        needs_exact=needs_exact_parse(line),
        clean=clean,
        parse_one=_parse_one,
        keep_malformed=keep_malformed,
        carry_cols=carry_cols,
    )


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
