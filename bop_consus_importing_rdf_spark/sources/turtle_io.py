"""Turtle / TriG input parse (reference S5 — the remaining input syntaxes).

The reference reads any standard RDF syntax through Jena (``JenaUtils.read``,
reference ``Flows.kt:66-77``). This module parses Turtle and TriG through
the one split-union skeleton every line parser shares,
``rdf_io.split_union_parse``: a clean branch that is 100% JVM (whole-stage
codegen, one packed regex pass per line, :func:`ttl_statement_columns`),
with lines carrying raw sentinel bytes or ``\\u``/``\\U`` escapes
(``rdf_io.needs_exact_parse``) routed whole to the exact Python twin
``_parse_one_ttl``.

Scope — honest and documented: **line-oriented Turtle**, i.e. the form our
own ``functions/formats.ttl_line`` renderer emits plus the common
single-line statement subset:

- ``@prefix`` / SPARQL-style ``PREFIX`` directives (collected driver-side —
  a document carries a handful, they are dimension data);
- prefixed names (empty prefix label allowed) in subject / predicate /
  object / datatype position, ``a`` for ``rdf:type``;
- ``<iri>``, ``_:bnode``, quoted literals with Turtle ECHAR +
  ``\\u``/``\\U`` escapes, ``@lang``, ``^^<dt>`` / ``^^pn:ame``;
- numeric (integer / decimal / double) and boolean literal abbreviations,
  lexical form preserved (Jena semantics).

:func:`parse_turtle_docs` adds a per-document statement
re-assembly pass (``_split_statements``, run by ``rdf_io.parse_docs``,
the one per-document driver of every whole-document syntax; TriG's
``_split_statements_tagged`` runs there too) that normalizes the FULL common
grammar — multi-line statements, ``;`` predicate-object lists, ``,``
object lists, triple- and single-quoted strings, comments, SPARQL-style
directives — into the single-line statement form above, so real-world
``.ttl`` dumps parse without the line-oriented restriction. ``harvest.py``
routes ``.ttl`` sources through it (and ``.trig`` sources through
:func:`parse_trig_docs`, the TriG twin built on the same tokenizer —
graph blocks incl. the ``GRAPH`` keyword, default-graph statements,
optional final ``.`` before ``}``). The re-assembly covers
blank-node property lists ``[...]`` (fresh deterministic labels, nested),
collections ``(...)`` (``rdf:first``/``rdf:rest`` chains), and
``@base``/``BASE`` with full RFC 3986 relative-IRI resolution (the
document pass sees directives in order; ``base_iri`` mirrors the
``baseUri`` argument of the reference's ``JenaUtils.read``,
``Flows.kt:69``), and mid-document PREFIX REDEFINITION (scoped prefix
maps): the re-assembler emits each label's first binding as a directive
and inline-expands pnames to full IRIs while a conflicting later binding
is in scope, so the line parser's file-global map never sees the
conflict (Jena honors directive order the same way).

Loud-failure policy (never silent): a relative IRI with no in-scope base
raises (Jena always has the request address as base; a caller without one
has genuinely unresolvable input); TriG braces inside a Turtle document
and structurally invalid statements land in the malformed bucket for
lineage counting, exactly like ``parse_ntriples``. The LINE-oriented
:func:`parse_turtle` (not the document path) still rejects ``@base`` in
``extract_prefixes`` — single lines carry no directive ordering, so
resolution there would be a guess; route documents through
:func:`parse_turtle_docs`.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..vocab import RDF_TYPE, XSD_NS
from .rdf_io import (
    PARSED_COLUMNS,
    fan_out_lines,
    materialize_lines,
    needs_exact_parse,
    parse_docs,
    plan_barrier,
    split_union_parse,
)

XSD_BOOLEAN = XSD_NS + "boolean"
XSD_INTEGER = XSD_NS + "integer"
XSD_DECIMAL = XSD_NS + "decimal"
XSD_DOUBLE = XSD_NS + "double"

# Conservative Turtle name grammar (shared spelling: valid in Java AND
# Python regex). PN_LOCAL excludes a trailing dot so `p:loc .` terminates.
_PN_PREFIX = r"(?:[A-Za-z][A-Za-z0-9_-]*)?"
_PN_LOCAL = r"[A-Za-z0-9_](?:[A-Za-z0-9_.-]*[A-Za-z0-9_-])?"
_PNAME = rf"{_PN_PREFIX}:(?:{_PN_LOCAL})?"
_IRI = r"<[^>]*>"
_BNODE = r"_:\S+"
_LANG = r"@[A-Za-z][A-Za-z0-9-]*"
_QUOTED = r'"(?:[^"\\]|\\.)*"'
_QUOTED_CAP = r'^"((?:[^"\\]|\\.)*)"'
_LITERAL = rf"{_QUOTED}(?:{_LANG}|\^\^(?:{_IRI}|{_PNAME}))?"
_NUMBER = r"[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?"

_STMT_PATTERN = (
    rf"^\s*({_IRI}|{_BNODE}|{_PNAME})\s+"
    rf"(a|{_IRI}|{_PNAME})\s+"
    rf"({_IRI}|{_BNODE}|{_LITERAL}|{_NUMBER}|true|false|{_PNAME})\s*\.\s*$"
)

_INT_RE = r"^[+-]?\d+$"
_DEC_RE = r"^[+-]?(?:\d+\.\d*|\.\d+)$"
_DBL_RE = rf"^{_NUMBER}$"

_PREFIX_DIRECTIVE = re.compile(
    rf"^\s*(?:@prefix|[Pp][Rr][Ee][Ff][Ii][Xx])\s+({_PN_PREFIX}):"
    r"\s*<([^>]*)>\s*\.?\s*$"
)
_BASE_DIRECTIVE = re.compile(r"^\s*(?:@base|[Bb][Aa][Ss][Ee])\s+<")
# Spark-side filter for lines that are (or could be) directives — spelled
# with char classes so the same pattern works in Java regex
_DIRECTIVE_FILTER = (
    r"^\s*(@prefix|@base|[Pp][Rr][Ee][Ff][Ii][Xx]\s|[Bb][Aa][Ss][Ee]\s)"
)

# Turtle ECHAR table (superset of N-Triples': adds \b \f \')
_TTL_UNESCAPES = {
    "\\\\": "\\", '\\"': '"', "\\'": "'", "\\n": "\n", "\\r": "\r",
    "\\t": "\t", "\\b": "\b", "\\f": "\f",
}
_TTL_ESCAPE_RE = re.compile(
    r"\\(?:[tbnrf\"'\\]|u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8})"
)


def _unescape_ttl(s: str) -> str:
    def sub(m: re.Match) -> str:
        tok = m.group(0)
        if tok in _TTL_UNESCAPES:
            return _TTL_UNESCAPES[tok]
        return chr(int(tok[2:], 16))

    return _TTL_ESCAPE_RE.sub(sub, s)


def extract_prefixes(lines: DataFrame, line_col: str = "value") -> dict[str, str]:
    """Collect ``@prefix``/``PREFIX`` directives into a label→namespace map.

    Driver-side over the directive subset only — a document declares a
    handful of prefixes; this is dimension data, not triple data.

    LOUD failure policy (silent corruption is never acceptable for a
    parser): raises on ``@base`` (relative IRIs cannot be resolved), on a
    prefix label REDEFINED to a different namespace (this parser keeps one
    file-global map, so honoring only the last binding would silently
    rewrite earlier statements' IRIs), and on a directive-shaped line
    neither directive regex actually parses (the statement filter drops
    such lines from the stream, so without the raise they would vanish
    from both the output and the malformed bucket)."""
    cand = (
        lines.filter(F.col(line_col).rlike(_DIRECTIVE_FILTER))
        .select(line_col)
        .collect()
    )
    prefixes: dict[str, str] = {}
    for r in cand:
        text = r[0]
        if _BASE_DIRECTIVE.match(text):
            raise ValueError(
                "Turtle @base directive in a LINE-oriented parse: single "
                "lines carry no directive ordering, so base resolution "
                "would be a guess — route whole documents through "
                f"parse_turtle_docs, which resolves it ({text.strip()!r})"
            )
        m = _PREFIX_DIRECTIVE.match(text)
        if not m:
            raise ValueError(
                f"unparseable Turtle directive: {text.strip()!r}"
            )
        label, ns = m.group(1), m.group(2)
        if label in prefixes and prefixes[label] != ns:
            raise ValueError(
                f"prefix '{label}:' redefined from <{prefixes[label]}> to "
                f"<{ns}> — scoped prefix maps are not supported; split the "
                "input per scope"
            )
        prefixes[label] = ns
    return prefixes


def _parse_one_ttl(line: str, prefixes: dict[str, str]) -> tuple:
    """Exact Python twin of the JVM statement parse (sentinel fallback +
    property-test reference)."""
    m = re.match(_STMT_PATTERN, line)
    if not m:
        return (None, None, line, None, None, None)
    s_raw, p_raw, o_raw = m.group(1), m.group(2), m.group(3)

    def expand(pname: str) -> str | None:
        label, _, local = pname.partition(":")
        ns = prefixes.get(label)
        return None if ns is None else ns + local

    if s_raw.startswith("<"):
        subj = s_raw[1:-1]
    elif s_raw.startswith("_:"):
        subj = s_raw
    else:
        subj = expand(s_raw)
    if p_raw == "a":
        pred = RDF_TYPE
    elif p_raw.startswith("<"):
        pred = p_raw[1:-1]
    else:
        pred = expand(p_raw)
    if subj is None or pred is None:  # undefined prefix → malformed
        return (None, None, line, None, None, None)

    if o_raw.startswith("<"):
        return (subj, pred, o_raw[1:-1], "iri", None, None)
    if o_raw.startswith("_:"):
        return (subj, pred, o_raw, "bnode", None, None)
    if o_raw.startswith('"'):
        end = o_raw.rindex('"')
        body, suffix = o_raw[1:end], o_raw[end + 1:]
        lang = suffix[1:] if suffix.startswith("@") else None
        dt = None
        if suffix.startswith("^^<"):
            dt = suffix[3:-1]
        elif suffix.startswith("^^"):
            dt = expand(suffix[2:])
            if dt is None:
                return (None, None, line, None, None, None)
        return (subj, pred, _unescape_ttl(body), "literal", lang, dt)
    if o_raw in ("true", "false"):
        return (subj, pred, o_raw, "literal", None, XSD_BOOLEAN)
    if re.match(_INT_RE, o_raw):
        return (subj, pred, o_raw, "literal", None, XSD_INTEGER)
    if re.match(_DEC_RE, o_raw):
        return (subj, pred, o_raw, "literal", None, XSD_DECIMAL)
    if re.match(_DBL_RE, o_raw):
        return (subj, pred, o_raw, "literal", None, XSD_DOUBLE)
    obj = expand(o_raw)
    if obj is None:
        return (None, None, line, None, None, None)
    return (subj, pred, obj, "iri", None, None)


def _expand_pname(col: Column, prefixes: dict[str, str]) -> Column:
    """Prefixed name → full IRI via the (tiny, literal) prefix map; NULL on
    an undeclared prefix label — the caller maps NULL to malformed, which
    is Jena's error behavior relationally."""
    label = F.substring_index(col, ":", 1)
    local = col.substr(F.instr(col, ":") + F.lit(1), F.length(col))
    if prefixes:
        ns_map = F.create_map(
            *[F.lit(x) for kv in sorted(prefixes.items()) for x in kv]
        )
        ns = F.element_at(ns_map, label)
    else:
        ns = F.lit(None).cast("string")
    return F.concat(ns, local)


def ttl_packed_parts(line: Column) -> Column:
    """ONE packed-regex pass over a statement line → the 3-part split
    array. Project this into its OWN named column before building the
    statement columns: the ``_STMT_PATTERN`` alternation is the expensive
    evaluation, filter predicates get no common-subexpression sharing, and
    Catalyst substitutes projected aliases into pushed-down predicates —
    so every consumer must reference the ATTRIBUTE, never the expression
    (the same discipline as ``word_ngrams``' token array)."""
    sep = "\x01"
    packed = F.regexp_replace(line, _STMT_PATTERN, f"$1{sep}$2{sep}$3")
    return F.split(packed, sep)


def ttl_statement_columns(
    line: Column, prefixes: dict[str, str], parts: Column | None = None
) -> dict[str, Column]:
    """The six statement columns (+ UDF-free ``_ok``) for one Turtle
    statement line, as PURE column expressions — zero Python, zero Arrow.
    Shared by :func:`parse_turtle` and the TriG block parser.

    ``parts`` should be a pre-projected :func:`ttl_packed_parts` ATTRIBUTE
    (see its docstring); when omitted the pack is inlined, which is only
    acceptable for single-projection consumers.

    CONTRACT: callers must route lines carrying raw ``\\x01``/``\\x02``
    sentinel bytes OR ``\\u``/``\\U`` escapes
    (``rdf_io.needs_exact_parse``) to the exact-Python assist branch — the
    replace-chain here handles every ECHAR but not numeric escapes, and
    the sentinels would corrupt the packed split. Keeping the Arrow
    unescape out of this expression tree is what keeps the clean branch whole-stage-codegen
    (an embedded always-on pandas UDF measured 17-61s vs ~6s on the
    905k-line parse)."""
    if parts is None:
        parts = ttl_packed_parts(line)
    matched = F.size(parts) == 3
    s_raw = F.get(parts, 0)
    p_raw = F.get(parts, 1)
    o_raw = F.get(parts, 2)

    def unbracket(c: Column) -> Column:
        return F.substring(c, F.lit(2), F.length(c) - 2)

    subj = (
        F.when(s_raw.startswith("<"), unbracket(s_raw))
        .when(s_raw.startswith("_:"), s_raw)
        .otherwise(_expand_pname(s_raw, prefixes))
    )
    pred = (
        F.when(p_raw == "a", F.lit(RDF_TYPE))
        .when(p_raw.startswith("<"), unbracket(p_raw))
        .otherwise(_expand_pname(p_raw, prefixes))
    )

    is_iri = o_raw.startswith("<")
    is_bnode = o_raw.startswith("_:")
    is_quoted = o_raw.startswith('"')
    is_bool = o_raw.isin("true", "false")
    is_int = o_raw.rlike(_INT_RE)
    is_dec = o_raw.rlike(_DEC_RE)
    is_dbl = o_raw.rlike(_DBL_RE)

    body_raw = F.when(
        is_quoted, F.regexp_extract(o_raw, _QUOTED_CAP, 1)
    ).otherwise("")
    # ECHAR unescape: sentinel the escaped backslashes first (ordering bug
    # otherwise), then the named escapes, restore — identical machinery to
    # parse_ntriples, Turtle-extended table. \u/\U bodies never reach this
    # expression (routing contract above).
    sent = "\x02"
    step1 = F.replace(body_raw, F.lit("\\\\"), F.lit(sent))
    echar = step1
    for raw, esc in (
        ("n", "\n"), ("r", "\r"), ("t", "\t"), ("b", "\b"), ("f", "\f"),
        ('"', '"'), ("'", "'"),
    ):
        echar = F.replace(echar, F.lit("\\" + raw), F.lit(esc))
    body = F.replace(echar, F.lit(sent), F.lit("\\"))

    lang = F.when(
        is_quoted,
        F.nullif(
            F.regexp_extract(o_raw, r"@([A-Za-z][A-Za-z0-9-]*)$", 1),
            F.lit(""),
        ),
    )
    dt_iri = F.nullif(
        F.regexp_extract(o_raw, r"\^\^<([^>]*)>$", 1), F.lit("")
    )
    dt_pname = F.nullif(
        F.regexp_extract(o_raw, rf"\^\^({_PNAME})$", 1), F.lit("")
    )
    dt = F.when(is_quoted & dt_iri.isNotNull(), dt_iri).when(
        is_quoted & dt_pname.isNotNull(), _expand_pname(dt_pname, prefixes)
    )
    # a pname datatype with an undeclared prefix expands to NULL → the
    # whole statement is malformed, matching the Python twin
    dt_bad = is_quoted & dt_pname.isNotNull() & dt.isNull()

    obj_pname = _expand_pname(o_raw, prefixes)
    obj_value = (
        F.when(is_iri, unbracket(o_raw))
        .when(is_bnode | is_bool | is_int | is_dec | is_dbl, o_raw)
        .when(is_quoted, body)
        .otherwise(obj_pname)
    )
    obj_kind = (
        F.when(is_iri, "iri")
        .when(is_bnode, "bnode")
        .when(is_quoted | is_bool | is_int | is_dec | is_dbl, "literal")
        .otherwise(F.lit("iri"))
    )
    obj_datatype = (
        F.when(is_quoted, dt)
        .when(is_bool, F.lit(XSD_BOOLEAN))
        .when(is_int, F.lit(XSD_INTEGER))
        .when(is_dec, F.lit(XSD_DECIMAL))
        .when(is_dbl, F.lit(XSD_DOUBLE))
    )
    # validity WITHOUT touching obj_value: the quoted-literal body is a
    # coalesce over a never-NULL replace chain, so the only NULLable object
    # spelling is an undeclared-prefix pname — testing obj_value directly
    # would drag the body's \u-unescape PANDAS UDF into every consumer of
    # `ok` (filters included: a Python UDF in a predicate plans an extra
    # ArrowEvalPython pass — measured 70s vs 6s on the 905k-line parse)
    obj_ok = (
        is_iri | is_bnode | is_quoted | is_bool | is_int | is_dec | is_dbl
        | obj_pname.isNotNull()
    )
    ok = (
        matched
        & subj.isNotNull()
        & pred.isNotNull()
        & obj_ok
        & ~dt_bad
    )
    return {
        "subj": F.when(ok, subj),
        "pred": F.when(ok, pred),
        "obj_value": F.when(ok, obj_value).otherwise(line),
        "obj_kind": F.when(ok, obj_kind),
        "obj_lang": F.when(ok & is_quoted, lang),
        "obj_datatype": F.when(ok, obj_datatype),
        "_ok": ok,  # UDF-free — branch filters use this, never obj_kind
    }


def parse_turtle(
    lines: DataFrame,
    line_col: str = "value",
    prefixes: dict[str, str] | None = None,
    keep_malformed: bool = False,
) -> DataFrame:
    """Line-oriented Turtle text → statement rows (schema of
    ``rdf_io.PARSED_SCHEMA``).

    ``prefixes=None`` extracts the directive map from the input first (one
    cheap filtered collect over directive-shaped lines). Blank, comment and
    directive lines are consumed; anything else unparseable lands in the
    malformed bucket (``obj_kind`` NULL, raw line in ``obj_value``) and is
    dropped unless ``keep_malformed``.

    The parse is ``rdf_io.split_union_parse`` (its docstring holds the
    measured plan discipline and the input contract: the prefix
    extraction and both branches read ``lines``, so pass a file scan, a
    cache or a checkpoint — ``normalize_turtle_docs`` returns one)."""
    if prefixes is None:
        prefixes = extract_prefixes(lines, line_col)
    return _parse_statement_lines(
        fan_out_lines(lines), line_col, prefixes, keep_malformed
    )


def _parse_statement_lines(
    lines: DataFrame,
    line_col: str,
    prefixes: dict[str, str],
    keep_malformed: bool,
    carry_cols: tuple[str, ...] = (),
    header: Column | None = None,
) -> DataFrame:
    """The Turtle statement parse over a line stream, through
    ``rdf_io.split_union_parse``: blank, comment and directive lines are
    consumed, and so are TriG block headers (``header`` non-NULL) and
    closing braces when ``header`` is given; ``carry_cols`` (e.g.
    ``graph``) pass through both branches.

    The clean branch is two-step: the expensive packed-regex split is
    projected ONCE into an attribute; every statement column and the
    malformed filter reference the attribute, and the guard COLUMN rides
    in the same projection so the filter's predicate stays
    nondeterministic-derived and cannot be substituted below the
    projection (measured 33s vs ~7s).
    """
    line = F.col(line_col)
    stripped = F.trim(line)
    statement = stripped != ""
    if header is not None:
        statement = header.isNull() & statement & (stripped != "}")
    statement = (
        statement
        & ~stripped.startswith("#")
        & ~stripped.rlike(_DIRECTIVE_FILTER)
    )

    def clean(routed: DataFrame) -> DataFrame:
        step = routed.select(
            *carry_cols,
            line.alias("_l"),
            plan_barrier().alias("_g"),
            ttl_packed_parts(line).alias("_parts"),
        )
        cols = ttl_statement_columns(
            F.col("_l"), prefixes, parts=F.col("_parts")
        )
        if not keep_malformed:
            step = step.filter(F.col("_g") & cols["_ok"])
        return step.select(
            *carry_cols, *[cols[c].alias(c) for c in PARSED_COLUMNS]
        )

    return split_union_parse(
        lines,
        line_col,
        base=statement,
        needs_exact=needs_exact_parse(line),
        clean=clean,
        parse_one=lambda text: _parse_one_ttl(text, prefixes),
        keep_malformed=keep_malformed,
        carry_cols=carry_cols,
    )


# ---------------------------------------------------------------------------
# Statement re-assembly: full-grammar documents → single-statement lines
# ---------------------------------------------------------------------------
#
# Real-world ``.ttl`` dumps (the thing Jena reads at reference
# ``Flows.kt:66-77``) use ``;`` predicate-object lists, ``,`` object lists,
# multi-line statements and triple-quoted strings almost without exception.
# ``_split_statements`` is a quote/bracket-aware tokenizer that NORMALIZES a
# document into the single-line statement form the (JVM) statement parser
# already handles: long/short strings are re-quoted to escaped double-quote
# form, ``;``/``,`` lists are expanded into full ``subj pred obj .``
# statements, directives pass through for ``extract_prefixes``. It runs
# per-document in ``rdf_io.parse_docs``, the driver every whole-document
# syntax shares — corpus parallelism is ACROSS documents; the
# per-statement parse stays columnar downstream.
#
# Loud-failure policy (matches the rest of the module): ``@base`` raises in
# ``extract_prefixes``; constructs the statement parser cannot represent —
# blank-node property lists ``[...]``, collections ``(...)``, a statement
# left unterminated at EOF — are emitted as single (newline-collapsed)
# lines that FAIL the downstream statement grammar and land in the
# malformed bucket for lineage counting, never silently dropped.

_LANG_SUFFIX_RE = re.compile(r"@[A-Za-z][A-Za-z0-9]*(?:-[A-Za-z0-9]+)*")
_WORD_STOP = set(' \t\r\n\f\v;,#<"\'[](){}')


def _requote(body: str) -> str:
    """Re-quote a string body into escaped double-quote single-line form.

    Escape sequences in the source pass through VERBATIM (the downstream
    parser unescapes once); only characters that are raw-legal in the
    source quoting but illegal in a single-line double-quoted string are
    escaped here: newlines/CR (long strings), raw double quotes (long and
    single-quoted strings)."""
    out = []
    i, n = 0, len(body)
    while i < n:
        c = body[i]
        if c == "\\" and i + 1 < n:
            out.append(body[i:i + 2])
            i += 2
            continue
        if c == '"':
            out.append('\\"')
        elif c == "\n":
            out.append("\\n")
        elif c == "\r":
            out.append("\\r")
        else:
            out.append(c)
        i += 1
    return '"' + "".join(out) + '"'


def _tokenize_ttl(text: str) -> Iterator[tuple[str, str]]:
    """Yield ``(kind, token)``: IRI / STRING (normalized, suffix attached) /
    WORD / PUNCT. Comments consumed. Raises ValueError on unterminated
    IRIs/strings (document-level corruption, not statement-level)."""
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c in " \t\r\n\f\v":
            i += 1
            continue
        if c == "#":
            j = text.find("\n", i)
            i = n if j < 0 else j + 1
            continue
        if c == "<":
            j = text.find(">", i)
            if j < 0:
                raise ValueError("unterminated IRI in Turtle document")
            yield "IRI", text[i:j + 1]
            i = j + 1
            continue
        if c in "\"'":
            if text[i:i + 3] == c * 3:
                j = i + 3
                while True:
                    k = text.find(c * 3, j)
                    if k < 0:
                        raise ValueError(
                            "unterminated long string in Turtle document"
                        )
                    b = 0
                    while k - 1 - b >= i + 3 and text[k - 1 - b] == "\\":
                        b += 1
                    if b % 2 == 0:
                        break
                    j = k + 1
                # STRING_LITERAL_LONG grammar: a body may end with one or
                # two unescaped quotes — the terminator is the LAST 3 of a
                # quote run, so absorb up to two extra quotes into the body
                # ("""abc"""" = body abc"). Without this, spec-legal input
                # raised document-level 'unterminated string'.
                absorb = 0
                while absorb < 2 and k + 3 + absorb < n and text[k + 3 + absorb] == c:
                    absorb += 1
                body, i = text[i + 3:k + absorb], k + absorb + 3
                lit = _requote(body)
            else:
                j = i + 1
                while j < n and text[j] not in (c, "\n"):
                    j += 2 if text[j] == "\\" else 1
                if j >= n or text[j] == "\n":
                    raise ValueError(
                        "unterminated string in Turtle document"
                    )
                body, i = text[i + 1:j], j + 1
                lit = _requote(body) if c == "'" else (
                    '"' + body + '"'
                )
            # attach an IMMEDIATE @lang / ^^datatype suffix (no whitespace —
            # the overwhelmingly dominant spelling; a space-separated suffix
            # becomes its own WORD and the statement lands malformed, loud)
            m = _LANG_SUFFIX_RE.match(text, i)
            if m:
                lit += m.group(0)
                i = m.end()
            elif text[i:i + 2] == "^^":
                if text[i + 2:i + 3] == "<":
                    j = text.find(">", i + 2)
                    if j < 0:
                        raise ValueError("unterminated datatype IRI")
                    lit += text[i:j + 1]
                    i = j + 1
                else:
                    j = i + 2
                    while j < n and text[j] not in _WORD_STOP:
                        j += 1
                    tok = text[i:j]
                    if tok[2:].endswith("."):
                        tok = tok[:-1]
                    lit += tok
                    i += len(tok)
            yield "STRING", lit
            continue
        if c in ";,.[](){}":
            yield "PUNCT", c
            i += 1
            continue
        j = i
        while j < n and text[j] not in _WORD_STOP and text[j] != ".":
            j += 1
        # '.' inside a word (pname local part, decimal) continues the word
        # ONLY when more word chars follow — a trailing '.' terminates the
        # statement (PN_LOCAL and decimals never end with a dot)
        while j < n and text[j] == ".":
            if j + 1 < n and text[j + 1] not in _WORD_STOP and text[j + 1] != ".":
                j += 2
                while j < n and text[j] not in _WORD_STOP and text[j] != ".":
                    j += 1
            else:
                break
        yield "WORD", text[i:j]
        i = j


# --- RFC 3986 relative-IRI resolution (for @base / BASE) -------------------
#
# Jena resolves every IRI in a Turtle document against the in-scope base
# (the @base directive, else the request address passed as ``baseUri`` at
# reference ``Flows.kt:69``). The algorithm below is RFC 3986 §5.2/§5.3
# verbatim — merge paths + remove dot segments — with no scheme special
# cases (IRIs, not URLs).

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


def _split_iri(iri: str):
    """→ (scheme, authority, path, query, fragment); absent parts None."""
    scheme, rest = None, iri
    m = _SCHEME_RE.match(iri)
    if m:
        scheme, rest = m.group(0)[:-1], iri[m.end():]
    fragment = None
    if "#" in rest:
        rest, fragment = rest.split("#", 1)
    query = None
    if "?" in rest:
        rest, query = rest.split("?", 1)
    authority, path = None, rest
    if rest.startswith("//"):
        tail = rest[2:]
        cut = tail.find("/")
        authority, path = (tail, "") if cut < 0 else (tail[:cut], tail[cut:])
    return scheme, authority, path, query, fragment


def _remove_dot_segments(path: str) -> str:
    inp, out = path, []
    while inp:
        if inp.startswith("../"):
            inp = inp[3:]
        elif inp.startswith("./"):
            inp = inp[2:]
        elif inp.startswith("/./"):
            inp = "/" + inp[3:]
        elif inp == "/.":
            inp = "/"
        elif inp.startswith("/../"):
            inp = "/" + inp[4:]
            if out:
                out.pop()
        elif inp == "/..":
            inp = "/"
            if out:
                out.pop()
        elif inp in (".", ".."):
            inp = ""
        else:
            cut = inp.find("/", 1)
            if cut < 0:
                out.append(inp)
                inp = ""
            else:
                out.append(inp[:cut])
                inp = inp[cut:]
    return "".join(out)


def resolve_iri(base: str | None, ref: str) -> str:
    """RFC 3986 §5.3 reference resolution; absolute refs pass through.

    Raises (loud policy) on a relative ref with no base — the input is
    genuinely unresolvable, the exact situation Jena avoids by always
    receiving the request address as ``baseUri``."""
    r_scheme, r_auth, r_path, r_query, r_frag = _split_iri(ref)
    if r_scheme is not None:
        parts = (r_scheme, r_auth, _remove_dot_segments(r_path), r_query)
    else:
        if base is None:
            raise ValueError(
                f"relative IRI <{ref}> with no in-scope base — add an "
                "@base directive or pass base_iri (the reference passes "
                "the request address, Flows.kt:69)"
            )
        b_scheme, b_auth, b_path, b_query, _ = _split_iri(base)
        if r_auth is not None:
            parts = (b_scheme, r_auth, _remove_dot_segments(r_path), r_query)
        elif r_path == "":
            parts = (
                b_scheme, b_auth, b_path,
                r_query if r_query is not None else b_query,
            )
        elif r_path.startswith("/"):
            parts = (b_scheme, b_auth, _remove_dot_segments(r_path), r_query)
        else:
            if b_auth is not None and b_path == "":
                merged = "/" + r_path
            else:
                cut = b_path.rfind("/")
                merged = b_path[: cut + 1] + r_path if cut >= 0 else r_path
            parts = (b_scheme, b_auth, _remove_dot_segments(merged), r_query)
    scheme, auth, path, query = parts
    out = f"{scheme}:" if scheme is not None else ""
    if auth is not None:
        out += "//" + auth
    out += path
    if query is not None:
        out += "?" + query
    if r_frag is not None:
        out += "#" + r_frag
    return out


# --- statement expansion ---------------------------------------------------

_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_RDF_FIRST = f"<{_RDF_NS}first>"
_RDF_REST = f"<{_RDF_NS}rest>"
_RDF_NIL = f"<{_RDF_NS}nil>"
#: fresh blank-node labels synthesized for ``[...]`` / ``(...)``:
#: ``_:tgen-<doc-md5-10>-<n>``. The md5 tag scopes labels to their
#: DOCUMENT — counters restarting per document would otherwise collide
#: across files of a multi-file harvest and silently merge unrelated
#: bnodes once the graphs union (Jena allocates globally fresh anon ids
#: per parse). Two byte-identical documents share
#: labels, which is set-idempotent: identical docs emit identical
#: statements. The prefix is guarded: a document whose own blank-node
#: labels use it raises loudly.
_GEN_BNODE_PREFIX = "_:tgen-"
_GEN_BNODE_GUARD = re.compile(r"_:tgen-")


def doc_label_tag(text: str) -> str:
    """The deterministic per-document label scope tag (md5 prefix of the
    document bytes) — exposed so fixtures/oracles can derive the expected
    synthesized labels."""
    import hashlib

    return hashlib.md5(text.encode("utf-8")).hexdigest()[:10]


#: a STRING token's trailing ``^^pname`` datatype suffix: greedy head eats
#: through the literal's FINAL quote (internal quotes are escaped ``\"``
#: after normalization), so the suffix match can never start inside the body
_DT_PNAME_SUFFIX = re.compile(
    r'^(?P<head>.*")\^\^(?P<label>[^<>:"\s]*):(?P<local>[^<>:"\s]*)$',
    re.DOTALL,
)


class _StmtError(Exception):
    """Structurally invalid statement — collapses to one malformed line."""


def _resolve_tok(kind: str, tok: str, base: str | None) -> str:
    """Resolve the IRI content of a token against the in-scope base.

    Applies to ``<...>`` tokens and to a STRING token's trailing
    ``^^<datatype>`` suffix (the suffix is always terminal, so the last
    ``^^<`` is unambiguous). Absolute IRIs pass through untouched."""
    if kind == "IRI":
        body = tok[1:-1]
        if _SCHEME_RE.match(body):
            return tok
        return "<" + resolve_iri(base, body) + ">"
    if kind == "STRING" and tok.endswith(">") and "^^<" in tok:
        cut = tok.rindex("^^<")
        dt = tok[cut + 3:-1]
        if _SCHEME_RE.match(dt):
            return tok
        return tok[:cut] + "^^<" + resolve_iri(base, dt) + ">"
    return tok


def _split_statements(text: str, base_iri: str | None = None) -> list[str]:
    """Full-grammar Turtle document → normalized single-statement lines
    (``@prefix`` directives included and base-resolved; ``@base`` consumed;
    ``[...]``/``(...)`` expanded with fresh bnode labels; structurally
    invalid / unterminated statements collapsed to single
    malformed-by-construction lines)."""
    return [
        line for _, line in _split_statements_tagged(text, base_iri, trig=False)
    ]


def _split_statements_tagged(
    text: str, base_iri: str | None = None, trig: bool = True
) -> list[tuple[str | None, str]]:
    """Shared Turtle/TriG document splitter → ``(graph, line)`` pairs.

    ``trig=True`` additionally understands graph blocks: ``<g> { … }``,
    ``_:b { … }``, ``pn:ame { … }``, the optional ``GRAPH`` keyword form,
    anonymous default-graph blocks ``{ … }``, top-level default-graph
    statements, and the spec's optional final ``.`` before ``}``.
    Statements inside a block carry the block's graph label (IRI
    unbracketed and base-resolved, pname expanded via the directives seen
    so far, bnode label verbatim); directives and default-graph
    statements carry ``None``. A malformed block header collapses to a
    malformed line and its block parses as default-graph (loud — the
    header lands in the reject bucket, nothing silently vanishes).
    ``trig=False`` treats braces as not-Turtle (malformed collapse)."""
    out: list[tuple[str | None, str]] = []
    cur: list[str] = []
    depth = 0
    unsupported = False
    base = base_iri
    gen = [0, doc_label_tag(text)]
    prefixes: dict[str, str] = {}
    #: binding each label was EMITTED as a directive under; labels whose
    #: CURRENT binding differs (spec-legal mid-document redefinition —
    #: Turtle prefix maps are scoped, the line parser's is file-global)
    #: land in ``redefined`` and their pnames are expanded inline from
    #: that point on, mirroring ``_expand_pname``'s plain ns+local concat
    emitted: dict[str, str] = {}
    redefined: set[str] = set()
    cur_graph: str | None = None
    in_block = False

    def expand_redefined(kind: str, tok: str) -> str:
        """Inline-expand pnames of redefined prefixes to full IRIs so the
        file-global downstream map never sees the conflict."""
        if kind == "WORD" and not tok.startswith("_:"):
            label, sep, local = tok.partition(":")
            if sep and label in redefined:
                return f"<{prefixes[label]}{local}>"
        elif kind == "STRING" and not tok.endswith(">"):
            m = _DT_PNAME_SUFFIX.match(tok)
            if m and m.group("label") in redefined:
                return (
                    f"{m.group('head')}^^"
                    f"<{prefixes[m.group('label')]}{m.group('local')}>"
                )
        return tok

    def flush(terminated: bool) -> None:
        nonlocal cur, unsupported, depth
        # depth is statement-scoped: an unbalanced statement must not
        # poison bracket tracking for everything after it
        depth = 0
        if not cur:
            unsupported = False
            return
        if unsupported or not terminated:
            out.append((cur_graph, " ".join(cur).replace("\n", "\\n")))
        else:
            out.extend(
                (cur_graph, ln) for ln in _expand_statement(cur, gen)
            )
        cur, unsupported = [], False

    def graph_label(tok: str) -> str | None:
        """Block-header token → graph column value; None = unresolvable."""
        if tok.startswith("<"):
            body = tok[1:-1]
            return body  # already base-resolved by _resolve_tok
        if tok.startswith("_:"):
            return tok
        label, sep, local = tok.partition(":")
        if sep and prefixes.get(label) is not None:
            return prefixes[label] + local
        return None

    toks = _tokenize_ttl(text)
    for kind, tok in toks:
        if kind == "WORD" and _GEN_BNODE_GUARD.match(tok):
            # guard in blank-node-LABEL position only (a literal merely
            # containing the string is fine): a document using
            # the reserved prefix for its own labels would silently merge
            # with synthesized nodes
            raise ValueError(
                f"document uses the reserved blank-node label prefix "
                f"'{_GEN_BNODE_PREFIX}' that statement re-assembly "
                "synthesizes for [...] / (...) — relabel the input"
            )
        elif kind == "PUNCT" and tok == "{":
            if not trig or in_block or depth > 0:
                unsupported = True
                cur.append(tok)
                continue
            hdr = list(cur)
            # the header tokens are consumed — their flags go with them
            cur, unsupported, depth = [], False, 0
            if len(hdr) == 2 and hdr[0].lower() == "graph":
                hdr = hdr[1:]
            if not hdr:
                cur_graph, in_block = None, True  # anonymous default block
            elif len(hdr) == 1 and graph_label(hdr[0]) is not None:
                cur_graph, in_block = graph_label(hdr[0]), True
            else:
                # malformed header: reject it loudly, parse the block's
                # contents as default-graph statements
                out.append((None, " ".join([*hdr, "{"]).replace("\n", "\\n")))
                cur_graph, in_block = None, True
        elif kind == "PUNCT" and tok == "}":
            if not trig or not in_block or depth > 0:
                unsupported = True
                cur.append(tok)
                continue
            # TriG allows the block's final statement to omit its '.'
            flush(terminated=True)
            cur_graph, in_block = None, False
        elif kind == "PUNCT" and tok in "[]()":
            if tok in "[(":
                depth += 1
            elif depth > 0:
                depth -= 1
            else:
                # stray closer at depth 0: malformed content, and depth
                # must not go negative (a later legitimate bracket would
                # otherwise mis-track)
                unsupported = True
            cur.append(tok)
        elif kind == "PUNCT" and tok == "." and depth <= 0:
            flush(terminated=True)
        elif kind == "WORD" and not cur and tok.lower() in ("@base", "base"):
            # base directive: consume the IRI, update the in-scope base
            # (itself resolved against the previous base per the spec),
            # emit nothing — every subsequent IRI leaves here absolute.
            # The @-form's trailing '.' flushes an empty statement (no-op).
            k1, t1 = next(toks, (None, None))
            if k1 != "IRI":
                raise ValueError(
                    f"malformed {tok} directive: expected <iri>, got {t1!r}"
                )
            body = t1[1:-1]
            base = body if _SCHEME_RE.match(body) else resolve_iri(base, body)
        elif kind == "WORD" and not cur and tok.lower() in ("@prefix", "prefix"):
            # prefix directive: @-form terminates with '.', SPARQL form does
            # not — consume exactly (label, iri); the namespace IRI is
            # base-resolved here, so extract_prefixes sees absolute IRIs
            k1, t1 = next(toks, (None, None))
            k2, t2 = next(toks, (None, None))
            rest = [t for k, t in ((k1, t1), (k2, t2)) if t]
            if k2 == "IRI":
                rest[-1] = _resolve_tok("IRI", t2, base)
                if k1 == "WORD" and t1.endswith(":"):
                    label, ns = t1[:-1], rest[-1][1:-1]
                    prefixes[label] = ns
                    if label not in emitted:
                        emitted[label] = ns
                    elif emitted[label] == ns:
                        # rebound back to the emitted binding (A→B→A):
                        # pnames may ride the global map again
                        redefined.discard(label)
                        continue
                    else:
                        # conflicting redefinition: suppress the directive
                        # (the file-global downstream map would raise) and
                        # expand this prefix's pnames inline from here on
                        redefined.add(label)
                        continue
            out.append((None, " ".join([tok, *rest]) + (
                " ." if tok.startswith("@") else ""
            )))
        else:
            resolved = _resolve_tok(kind, tok, base)
            if redefined:
                resolved = expand_redefined(kind, resolved)
            cur.append(resolved)
    flush(terminated=False)
    return out


def _fresh(gen: list) -> str:
    gen[0] += 1
    return f"{_GEN_BNODE_PREFIX}{gen[1]}-{gen[0]}"


def _parse_node(toks: list[str], i: int, lines: list[str], gen: list[int]):
    """Parse one object/subject node at ``toks[i]`` → (node_token, next_i).

    ``[...]`` allocates a fresh label and expands its inner
    predicate-object list into ``lines``; ``(...)`` builds the
    ``rdf:first``/``rdf:rest`` chain (``()`` is ``rdf:nil``). Plain tokens
    pass through for the downstream single-line statement parser."""
    t = toks[i]
    if t == "[":
        label = _fresh(gen)
        i += 1
        if i < len(toks) and toks[i] == "]":
            return label, i + 1
        i = _parse_polist(toks, i, label, "]", lines, gen)
        return label, i
    if t == "(":
        items = []
        i += 1
        while i < len(toks) and toks[i] != ")":
            node, i = _parse_node(toks, i, lines, gen)
            items.append(node)
        if i >= len(toks):
            raise _StmtError
        i += 1  # consume ')'
        if not items:
            return _RDF_NIL, i
        labels = [_fresh(gen) for _ in items]
        for k, (lbl, node) in enumerate(zip(labels, items)):
            nxt = labels[k + 1] if k + 1 < len(items) else _RDF_NIL
            lines.append(f"{lbl} {_RDF_FIRST} {node} .")
            lines.append(f"{lbl} {_RDF_REST} {nxt} .")
        return labels[0], i
    if t in (";", ",", ".", "]", ")", "{", "}"):
        raise _StmtError
    return t, i + 1


def _parse_polist(
    toks: list[str], i: int, subj: str, closer: str | None,
    lines: list[str], gen: list[int],
) -> int:
    """Parse a ``p1 o1a , o1b ; p2 o2 …`` predicate-object list, emitting
    one full statement line per (subj, pred, obj). ``closer`` is ``"]"``
    inside a blank-node property list (returns the index AFTER it) or
    ``None`` at statement top level (returns ``len(toks)``)."""
    while True:
        while i < len(toks) and toks[i] == ";":  # stray/trailing ';' legal
            i += 1
        if closer is not None and i < len(toks) and toks[i] == closer:
            return i + 1
        if i >= len(toks):
            if closer is not None:
                raise _StmtError  # unclosed '['
            return i
        pred = toks[i]
        if pred in (",", "[", "(", ")", "]", "{", "}", ".") or pred.startswith('"'):
            raise _StmtError
        i += 1
        while True:
            if i >= len(toks):
                raise _StmtError  # missing object
            obj, i = _parse_node(toks, i, lines, gen)
            lines.append(f"{subj} {pred} {obj} .")
            if i < len(toks) and toks[i] == ",":
                i += 1
                continue
            break
        if i < len(toks) and toks[i] == ";":
            continue
        if closer is not None:
            if i < len(toks) and toks[i] == closer:
                return i + 1
            raise _StmtError
        if i < len(toks):
            raise _StmtError  # trailing junk after the last object
        return i


def _expand_statement(tokens: list[str], gen: list[int]) -> list[str]:
    """One statement's token list → full single-line statements.

    Handles ``;``/``,`` lists, blank-node property lists ``[...]`` in
    subject or object position (nested), and collections ``(...)``.
    Structurally invalid shapes collapse to one malformed line (loud,
    lineage-counted — never silently dropped)."""
    if not tokens:
        return []
    bad = [" ".join(tokens) + " ."]
    lines: list[str] = []
    try:
        subj, i = _parse_node(tokens, 0, lines, gen)
        if subj.startswith('"'):
            raise _StmtError  # literal subject
        _parse_polist(tokens, i, subj, None, lines, gen)
    except _StmtError:
        return bad
    return lines or bad  # e.g. bare '[] .' produces no triples → malformed


def normalize_turtle_docs(
    docs: DataFrame,
    ttl_col: str = "ttl",
    carry_cols: tuple[str, ...] = (),
    base_iri: str | None = None,
    base_iri_col: str | None = None,
    line_transform=None,
) -> DataFrame:
    """Whole Turtle documents → one normalized statement/directive line per
    row (column ``value`` + ``carry_cols``), re-assembled per document by
    ``rdf_io.parse_docs`` and returned as one local checkpoint at no less
    than the session parallelism (``line_transform`` — e.g.
    ``harvest.py``'s line-scoped space-in-IRI fix — runs before it).

    ``base_iri`` is the initial base for relative-IRI resolution (the
    reference passes the request address as ``baseUri``, ``Flows.kt:69``);
    an ``@base`` directive inside a document overrides it from that point
    on. Relative IRIs with no in-scope base raise. ``base_iri_col`` names
    a PER-ROW base column and wins over ``base_iri``; a document past
    ``rdf_io.MAX_DOC_BYTES`` raises with guidance to split the dump into
    parts first (see ``rdf_io.parse_docs``)."""
    lines = parse_docs(
        docs, ttl_col,
        lambda text, base: [(ln,) for ln in _split_statements(text or "", base)],
        ("value",), carry_cols, base_iri, base_iri_col,
    )
    return materialize_lines(lines, line_transform)


def parse_turtle_docs(
    docs: DataFrame,
    ttl_col: str = "ttl",
    prefixes: dict[str, str] | None = None,
    keep_malformed: bool = False,
    base_iri: str | None = None,
    base_iri_col: str | None = None,
) -> DataFrame:
    """Full-grammar Turtle: whole documents → statement rows.

    ``normalize_turtle_docs`` re-assembles multi-line statements, expands
    ``;``/``,`` lists and ``[...]``/``(...)``, and resolves ``@base`` /
    relative IRIs (``base_iri`` = the document address, reference
    ``Flows.kt:69``); the existing single-statement machinery (prefix
    extraction, JVM statement parse, sentinel fallback) runs unchanged on
    the normalized lines. The normalizer returns its lines checkpointed,
    so the re-assembly pass runs exactly once no matter how many branches
    consume it."""
    lines = normalize_turtle_docs(
        docs, ttl_col, base_iri=base_iri, base_iri_col=base_iri_col
    )
    return parse_turtle(
        lines, "value", prefixes=prefixes, keep_malformed=keep_malformed
    )


def normalize_trig_docs(
    docs: DataFrame,
    trig_col: str = "trig",
    carry_cols: tuple[str, ...] = (),
    base_iri: str | None = None,
    base_iri_col: str | None = None,
    line_transform=None,
) -> DataFrame:
    """Whole TriG documents → one ``(graph, value)`` row per normalized
    statement/directive line, via the shared tokenizer-based re-assembly
    (``_split_statements_tagged``): full Turtle statement grammar inside
    graph blocks (multi-line, ``;``/``,`` lists, ``[...]``/``(...)``,
    ``@base``), ``GRAPH`` keyword and anonymous/default-graph forms,
    optional final ``.`` before ``}``. ``graph`` is NULL for directives
    and default-graph statements. Materialized like
    :func:`normalize_turtle_docs`: one local checkpoint, taken after
    ``line_transform``."""
    lines = parse_docs(
        docs, trig_col,
        lambda text, base: _split_statements_tagged(text or "", base),
        ("graph", "value"), carry_cols, base_iri, base_iri_col,
    )
    return materialize_lines(lines, line_transform)


def parse_trig_docs(
    docs: DataFrame,
    trig_col: str = "trig",
    prefixes: dict[str, str] | None = None,
    keep_malformed: bool = False,
    base_iri: str | None = None,
    carry_cols: tuple[str, ...] = (),
    line_transform=None,
    base_iri_col: str | None = None,
) -> DataFrame:
    """Full-grammar TriG: whole documents → statement rows with a
    ``graph`` column — the TriG twin of :func:`parse_turtle_docs`
    (:func:`parse_trig` remains the line-oriented fast path for dumps in
    the shape our own renderer emits: no Python re-assembly pass, the
    explode/window runs fully JVM-side). The normalizer returns its lines
    checkpointed, so prefix extraction and the parse read materialized
    blocks.

    ``line_transform`` (Column → Column) runs on each normalized
    statement line before the parse — the hook ``harvest.py`` uses for
    the line-scoped space-in-IRI pre-process fix-up."""
    lines = normalize_trig_docs(
        docs, trig_col, carry_cols, base_iri, base_iri_col=base_iri_col,
        line_transform=line_transform,
    )
    if prefixes is None:
        prefixes = extract_prefixes(lines, "value")
    return _parse_statement_lines(
        fan_out_lines(lines), "value", prefixes, keep_malformed,
        carry_cols=(*carry_cols, "graph"),
    )


def parse_trig(
    docs: DataFrame,
    trig_col: str = "trig",
    prefixes: dict[str, str] | None = None,
    keep_malformed: bool = False,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """TriG documents → statement rows with a ``graph`` column.

    One document = one TriG string of ``<graph> { ... }`` blocks (the shape
    ``functions/formats.trig_docs`` emits, and the line-oriented subset of
    standard TriG: graph headers and ``}`` on their own lines, one
    statement per line inside). Lines explode narrowly per document; the
    graph context is the last seen header (a window per document — TriG
    documents are bounded, the corpus parallelism is across documents).

    ``prefixes=None`` extracts the ``@prefix`` directive map from the
    documents themselves (same contract as :func:`parse_turtle` — a
    standard TriG dump declares prefixed names, and parsing it with an
    empty map would reject every statement as undeclared-prefix
    malformed).

    The line-context window is partitioned by an INTERNAL per-document key
    (``monotonically_increasing_id`` stamped before the explode) — never by
    the document bytes (document-sized shuffle keys) and never by
    ``carry_cols`` (whose uniqueness the caller couldn't be trusted to
    guarantee: with a shared key, ``_pos`` ties across documents and the
    default RANGE frame would leak graph headers between documents).
    ``carry_cols`` are pass-through annotation columns only. After the
    explode and the header window, the statement parse is
    :func:`parse_turtle`'s (``rdf_io.split_union_parse``), with header and
    ``}`` lines consumed.

    Same input contract as :func:`parse_turtle`: the prefix extraction
    and the per-document explode read ``docs``, so pass a scan, a cache
    or a checkpoint."""
    if prefixes is None:
        prefixes = extract_prefixes(
            docs.select(
                F.explode(F.split(F.col(trig_col), "\n")).alias("value")
            ),
            "value",
        )
    from pyspark.sql import Window

    docs = docs.withColumn("_doc", F.monotonically_increasing_id())
    w = Window.partitionBy("_doc").orderBy("_pos")
    header = F.regexp_extract(F.col("_line"), r"^\s*<([^>]*)>\s*\{\s*$", 1)
    exploded = (
        docs.select(
            *carry_cols,
            "_doc",
            F.posexplode(F.split(F.col(trig_col), "\n")).alias(
                "_pos", "_line"
            ),
        )
        .withColumn("_hdr", F.nullif(header, F.lit("")))
        .withColumn(
            "graph", F.last("_hdr", ignorenulls=True).over(w)
        )
    )
    # the base filter's barrier keeps the branch filters from pushing
    # below the per-document explode
    return _parse_statement_lines(
        exploded, "_line", prefixes, keep_malformed,
        carry_cols=(*carry_cols, "graph"), header=F.col("_hdr"),
    )
