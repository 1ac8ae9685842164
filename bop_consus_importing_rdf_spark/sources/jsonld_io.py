"""JSON-LD input parse (reference S5 — flattened statement form).

Inverse of ``functions/formats.jsonld_line``: one flattened JSON object per
line, ``{"@id": s, pred: [{"@id": o} | {"@value": v, "@language"?: l,
"@type"?: dt}]}``. That is the exact form our serializer emits (and the
canonical flattened single-statement shape); full JSON-LD expansion with
``@context`` resolution is out of scope — such documents land in the
malformed bucket, loudly countable via ``keep_malformed``.
Compact-form DOCUMENTS (inline ``@context``, named graphs) are expanded
per document by ``_expand_jsonld_doc`` through ``rdf_io.parse_docs``, the
one per-document driver of every whole-document syntax.

The line parse runs through ``rdf_io.split_union_parse``, the one
split-union skeleton of every line parser: JVM regexp structure parse +
JVM-chain unescaping of the named JSON escapes. Lines carrying a raw
sentinel byte, a ``\\uXXXX`` escape (``json.loads`` handles surrogate
pairs, a ``chr()`` map cannot), or any OTHER non-named escape (strict
JSON rejects ``\\x`` etc. — such lines are malformed and must land in
the reject bucket, not crash or silently mis-decode) take the exact
whole-line Python parser, which catches decode errors per line.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rdf_io import (
    PARSED_COLUMNS,
    parse_docs,
    plan_barrier,
    split_union_parse,
)

_JSTR = r'(?:[^"\\]|\\.)*'
_LINE_PATTERN = (
    rf'^\s*\{{"@id":"({_JSTR})","({_JSTR})":\[(.*)\]\}}\s*$'
)
_NODE_RE = rf'^\{{"@id":"({_JSTR})"\}}$'
_VALUE_RE = (
    rf'^\{{"@value":"({_JSTR})"'
    rf'(?:,"@language":"([A-Za-z][A-Za-z0-9-]*)")?'
    rf'(?:,"@type":"({_JSTR})")?\}}$'
)


def _json_unescape(s: str) -> str:
    return json.loads(f'"{s}"')


def _parse_one_jsonld(line: str) -> tuple:
    m = re.match(_LINE_PATTERN, line)
    if not m:
        return (None, None, line, None, None, None)
    subj, pred, inner = m.group(1), m.group(2), m.group(3)
    try:
        subj, pred = _json_unescape(subj), _json_unescape(pred)
        node = re.match(_NODE_RE, inner)
        if node:
            obj = _json_unescape(node.group(1))
            kind = "bnode" if obj.startswith("_:") else "iri"
            return (subj, pred, obj, kind, None, None)
        val = re.match(_VALUE_RE, inner)
        if not val:
            return (None, None, line, None, None, None)
        body = _json_unescape(val.group(1))
        lang = val.group(2)
        dt = _json_unescape(val.group(3)) if val.group(3) else None
        return (subj, pred, body, "literal", lang, dt)
    except (ValueError, json.JSONDecodeError):
        return (None, None, line, None, None, None)


def _unescape_json_col(col: Column) -> Column:
    """Named JSON escapes, fully in the JVM. Exact BECAUSE the caller
    routes every line carrying ``\\u`` or a non-named escape to the Python
    fallback first — what reaches this chain holds only the seven named
    escapes."""
    sent = "\x02"
    step1 = F.replace(col, F.lit("\\\\"), F.lit(sent))
    out = step1
    for raw, esc in (
        ('"', '"'), ("/", "/"), ("n", "\n"), ("r", "\r"), ("t", "\t"),
        ("b", "\b"), ("f", "\f"),
    ):
        out = F.replace(out, F.lit("\\" + raw), F.lit(esc))
    return F.replace(out, F.lit(sent), F.lit("\\"))


def parse_jsonld(
    lines: DataFrame, line_col: str = "value", keep_malformed: bool = False
) -> DataFrame:
    """Flattened JSON-LD statement lines → statement rows
    (``rdf_io.PARSED_SCHEMA``).

    Through ``rdf_io.split_union_parse`` (plan discipline and input
    contract there: pass a scan, a cache or a checkpoint):

    - **clean branch** (no escapes beyond the seven named ones): 100%
      JVM — one packed regex pass projected into an attribute, anchored
      extracts over the attribute in a second projection, replace-chain
      unescaping; whole-stage codegen end to end.
    - **assist branch** (raw sentinel bytes, ``\\uXXXX`` — needs
      ``json.loads`` incl. surrogate pairs — or any non-named escape,
      which strict JSON rejects): ``_parse_one_jsonld`` on the whole
      line."""
    line = F.col(line_col)
    # not rdf_io.needs_exact_parse: JSON's \U is no escape at all, so the
    # non-named-escape probe routes it with the other rejects
    needs_exact = (
        line.contains("\x01") | line.contains("\x02")
        | line.contains("\\u") | line.rlike(r'\\[^"\\/bfnrtu]')
    )
    # two-step clean branch: the packed pass once into an attribute, the
    # anchored inner-object extracts once into attributes, the final
    # projection touches only attributes (filter predicates get no
    # subexpression sharing — same discipline as turtle_io)
    sep = "\x01"
    packed = F.regexp_replace(line, _LINE_PATTERN, f"$1{sep}$2{sep}$3")

    def clean(routed: DataFrame) -> DataFrame:
        step = routed.select(
            line.alias("_l"),
            plan_barrier().alias("_g"),
            F.split(packed, sep).alias("_parts"),
        )
        parts = F.col("_parts")
        inner = F.get(parts, 2)
        step = step.select(
            "_l",
            "_g",
            (F.size(parts) == 3).alias("_matched"),
            F.get(parts, 0).alias("_subj_raw"),
            F.get(parts, 1).alias("_pred_raw"),
            inner.rlike(_NODE_RE).alias("_is_node"),
            inner.rlike(_VALUE_RE).alias("_is_value"),
            F.nullif(F.regexp_extract(inner, _NODE_RE, 1), F.lit("")).alias(
                "_node_id"
            ),
            F.regexp_extract(inner, _VALUE_RE, 1).alias("_body_raw"),
            F.nullif(F.regexp_extract(inner, _VALUE_RE, 2), F.lit("")).alias(
                "_lang"
            ),
            F.nullif(F.regexp_extract(inner, _VALUE_RE, 3), F.lit("")).alias(
                "_dt_raw"
            ),
        )
        is_node = F.col("_is_node")
        is_value = F.col("_is_value")
        ok = F.col("_matched") & (is_node | is_value)
        if not keep_malformed:
            step = step.filter(F.col("_g") & ok)
        obj_node = _unescape_json_col(F.col("_node_id"))
        return step.select(
            F.when(ok, _unescape_json_col(F.col("_subj_raw"))).alias("subj"),
            F.when(ok, _unescape_json_col(F.col("_pred_raw"))).alias("pred"),
            F.when(~ok, F.col("_l"))
            .when(is_node, obj_node)
            .otherwise(_unescape_json_col(F.col("_body_raw")))
            .alias("obj_value"),
            F.when(ok & is_node & obj_node.startswith("_:"), "bnode")
            .when(ok & is_node, "iri")
            .when(ok, "literal")
            .alias("obj_kind"),
            F.when(ok & is_value, F.col("_lang")).alias("obj_lang"),
            F.when(
                ok & is_value, _unescape_json_col(F.col("_dt_raw"))
            ).alias("obj_datatype"),
        )

    return split_union_parse(
        lines,
        line_col,
        base=F.trim(line) != "",
        needs_exact=needs_exact,
        clean=clean,
        parse_one=_parse_one_jsonld,
        keep_malformed=keep_malformed,
    )


# ---------------------------------------------------------------------------
# compact-form documents (inline @context) — reference S5 completion
# ---------------------------------------------------------------------------

_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_XSD_NS = "http://www.w3.org/2001/XMLSchema#"


def _canon_double(v: float) -> str:
    """JSON-LD 1.1 canonical double form (§8.2: mantissa with at least one
    digit after '.', 'E', exponent without leading zeros) — '1.0E0' etc."""
    m, _, e = f"{v:.15E}".partition("E")
    m = m.rstrip("0")
    if m.endswith("."):
        m += "0"
    return f"{m}E{int(e)}"


class _Ctx:
    """Resolved inline-@context state for the supported subset."""

    __slots__ = ("terms", "aliases", "vocab", "base", "lang")

    def __init__(self):
        self.terms: dict = {}     # term -> {"id": iri|None, "type": ..., "lang": ...}
        self.aliases: dict = {}   # term -> "@id" | "@type"
        self.vocab: str | None = None
        self.base: str | None = None
        self.lang: str | None = None

    def copy(self) -> "_Ctx":
        c = _Ctx()
        c.terms = dict(self.terms)
        c.aliases = dict(self.aliases)
        c.vocab, c.base, c.lang = self.vocab, self.base, self.lang
        return c


def _ctx_expand_iri(value: str, ctx: _Ctx, vocab: bool) -> str | None:
    """Expand a term / compact IRI / absolute IRI; JSON-LD expansion
    semantics for the subset: terms first, then prefix:suffix, then
    @vocab (vocab-relative positions) or @base (document-relative)."""
    if value.startswith("_:"):
        return value
    t = ctx.terms.get(value)
    if t is not None:
        return t["id"]
    if ":" in value:
        prefix, _, suffix = value.partition(":")
        p = ctx.terms.get(prefix)
        if p is not None and p["id"] and not suffix.startswith("//"):
            return p["id"] + suffix
        return value  # absolute IRI (any scheme:rest)
    if vocab:
        return ctx.vocab + value if ctx.vocab else None
    from .turtle_io import resolve_iri

    if ctx.base is not None:
        return resolve_iri(ctx.base, value)
    raise ValueError(
        f"relative IRI reference {value!r} with no @base / document base"
    )


def _parse_context(val, ctx: _Ctx) -> _Ctx:
    """Merge one @context value into a copy of ``ctx`` (dict or list of
    dicts only — a string is a REMOTE context, which a hermetic batch
    parser must not fetch: loud failure, same policy as Turtle @base was
    before support)."""
    ctx = ctx.copy()
    if isinstance(val, list):
        for item in val:
            ctx = _parse_context(item, ctx)
        return ctx
    if not isinstance(val, dict):
        raise ValueError(
            "remote/non-inline @context is not supported "
            f"(got {type(val).__name__})"
        )
    # two passes so term definitions can reference sibling prefixes
    for _ in range(2):
        for term, d in val.items():
            if term == "@vocab":
                ctx.vocab = d
                continue
            if term == "@base":
                ctx.base = d
                continue
            if term == "@language":
                ctx.lang = d
                continue
            if term.startswith("@"):
                raise ValueError(f"unsupported @context keyword {term!r}")
            if d is None:
                ctx.terms[term] = {"id": None, "type": None, "lang": ...}
                continue
            if isinstance(d, str):
                if d in ("@id", "@type"):
                    ctx.aliases[term] = d
                    continue
                ctx.terms[term] = {
                    "id": _ctx_expand_iri(d, ctx, vocab=True) or d,
                    "type": None,
                    "lang": ...,
                }
                continue
            if not isinstance(d, dict):
                raise ValueError(f"unsupported term definition for {term!r}")
            extra = set(d) - {"@id", "@type", "@language", "@container"}
            if extra:
                raise ValueError(
                    f"unsupported term-definition keys {sorted(extra)} "
                    f"for {term!r}"
                )
            if d.get("@container") not in (None, "@set"):
                raise ValueError(
                    f"unsupported @container {d['@container']!r} "
                    f"for {term!r} (only @set)"
                )
            tid = d.get("@id", term)
            if tid in ("@id", "@type"):
                ctx.aliases[term] = tid
                continue
            ttype = d.get("@type")
            if ttype is not None and ttype != "@id":
                ttype = _ctx_expand_iri(ttype, ctx, vocab=True)
            ctx.terms[term] = {
                "id": _ctx_expand_iri(tid, ctx, vocab=True),
                "type": ttype,
                "lang": d["@language"] if "@language" in d else ...,
            }
    return ctx


class _DocState:
    __slots__ = ("tag", "n", "out", "graph")

    def __init__(self, tag: str):
        self.tag = tag
        self.n = 0
        #: rows are (graph, subj, pred, obj_value, obj_kind, obj_lang,
        #: obj_datatype); graph None = default graph. The current graph is
        #: stateful across the recursive expansion — a node object carrying
        #: ``@graph`` switches it for its graph content (JSON-LD 1.0 named
        #: graphs → RDF datasets; graph names do not nest in the output,
        #: matching the flat dataset model).
        self.out: list[tuple] = []
        self.graph: str | None = None

    def emit(self, subj, pred, obj_value, obj_kind, obj_lang, obj_datatype):
        self.out.append(
            (self.graph, subj, pred, obj_value, obj_kind, obj_lang,
             obj_datatype)
        )

    def bnode(self) -> str:
        self.n += 1
        return f"_:jgen-{self.tag}-{self.n}"


def _as_list(v) -> list:
    return v if isinstance(v, list) else [v]


def _literal(v, tdef, ctx: _Ctx) -> tuple:
    """(value, kind, lang, datatype) for a scalar JSON value."""
    if isinstance(v, bool):
        return ("true" if v else "false", "literal", None, _XSD_NS + "boolean")
    if isinstance(v, int):
        return (str(v), "literal", None, _XSD_NS + "integer")
    if isinstance(v, float):
        return (_canon_double(v), "literal", None, _XSD_NS + "double")
    lang = ctx.lang
    if tdef is not None and tdef["lang"] is not ...:
        lang = tdef["lang"]
    return (v, "literal", lang, None)


def _object_of(v, tdef, ctx: _Ctx, st: _DocState):
    """Expand one object position → (value, kind, lang, datatype) or None
    to drop (JSON null)."""
    if v is None:
        return None
    if isinstance(v, dict):
        keys = {ctx.aliases.get(k, k) for k in v}
        if "@value" in keys:
            return _value_object(v, tdef, ctx)
        if "@list" in keys:
            items = [
                o
                for item in _as_list(_alias_get(v, "@list", ctx))
                if (o := _object_of(item, tdef, ctx, st)) is not None
            ]
            if not items:
                return (_RDF_NS + "nil", "iri", None, None)
            head = st.bnode()
            node = head
            for i, (ov, ok, ol, od) in enumerate(items):
                st.emit(node, _RDF_NS + "first", ov, ok, ol, od)
                nxt = st.bnode() if i < len(items) - 1 else _RDF_NS + "nil"
                kind = "bnode" if nxt.startswith("_:") else "iri"
                st.emit(node, _RDF_NS + "rest", nxt, kind, None, None)
                node = nxt
            return (head, "bnode", None, None)
        nid = _expand_node(v, ctx, st)
        return (nid, "bnode" if nid.startswith("_:") else "iri", None, None)
    if isinstance(v, str):
        if tdef is not None and tdef["type"] == "@id":
            iri = _ctx_expand_iri(v, ctx, vocab=False)
            return (iri, "bnode" if iri.startswith("_:") else "iri",
                    None, None)
        if tdef is not None and tdef["type"] is not None:
            return (v, "literal", None, tdef["type"])
        return _literal(v, tdef, ctx)
    return _literal(v, tdef, ctx)


def _alias_get(obj: dict, kw: str, ctx: _Ctx):
    for k, v in obj.items():
        if k == kw or ctx.aliases.get(k) == kw:
            return v
    return None


def _value_object(v: dict, tdef, ctx: _Ctx) -> tuple:
    allowed = {"@value", "@language", "@type", "@index"}
    for k in v:
        kw = ctx.aliases.get(k, k)
        if kw not in allowed:
            raise ValueError(f"unsupported key {k!r} in value object")
    body = _alias_get(v, "@value", ctx)
    dt = _alias_get(v, "@type", ctx)
    lang = _alias_get(v, "@language", ctx)
    if isinstance(body, bool):
        body, default_dt = ("true" if body else "false"), _XSD_NS + "boolean"
    elif isinstance(body, int):
        body, default_dt = str(body), _XSD_NS + "integer"
    elif isinstance(body, float):
        body, default_dt = _canon_double(body), _XSD_NS + "double"
    elif isinstance(body, str):
        default_dt = None
    else:
        raise ValueError(f"unsupported @value type {type(body).__name__}")
    if dt is not None:
        return (body, "literal", None, _ctx_expand_iri(dt, ctx, vocab=True))
    if lang is not None:
        return (body, "literal", lang, default_dt)
    if default_dt is not None:
        return (body, "literal", None, default_dt)
    if tdef is not None and tdef["lang"] is not ...:
        return (body, "literal", tdef["lang"], None)
    return (body, "literal", ctx.lang, None)


def _expand_node(obj: dict, ctx: _Ctx, st: _DocState) -> str:
    """Emit a node object's triples into ``st.out``; return its id."""
    local = _alias_get(obj, "@context", ctx)
    if local is not None:
        ctx = _parse_context(local, ctx)
    nid = _alias_get(obj, "@id", ctx)
    if nid is not None:
        if not isinstance(nid, str):
            raise ValueError("@id must be a string")
        nid = _ctx_expand_iri(nid, ctx, vocab=False)
    else:
        nid = st.bnode()
    graph_content = None
    for key, val in obj.items():
        kw = ctx.aliases.get(key, key)
        if kw in ("@id", "@context", "@index"):
            continue
        if kw == "@graph":
            # JSON-LD 1.0 named graph: this node's id NAMES the graph; the
            # node's OWN properties stay in the enclosing graph. Content
            # expanded after the property loop so emission order mirrors
            # the document.
            graph_content = _as_list(val)
            continue
        if kw == "@type":
            for t in _as_list(val):
                tiri = _ctx_expand_iri(t, ctx, vocab=True)
                if tiri is None:
                    continue
                st.emit(nid, _RDF_NS + "type", tiri, "iri", None, None)
            continue
        if kw.startswith("@"):
            raise ValueError(f"unsupported keyword {kw!r} in node object")
        tdef = ctx.terms.get(key)
        pred = _ctx_expand_iri(key, ctx, vocab=True)
        if pred is None:
            continue  # spec: non-IRI-mappable keys are dropped in expansion
        for v in _as_list(val):
            o = _object_of(v, tdef, ctx, st)
            if o is None:
                continue
            ov, okind, olang, odt = o
            st.emit(nid, pred, ov, okind, olang, odt)
    if graph_content is not None:
        outer = st.graph
        st.graph = nid
        for node in graph_content:
            if not isinstance(node, dict):
                raise ValueError("@graph entries must be node objects")
            _expand_node(node, ctx, st)
        st.graph = outer
    return nid


def _expand_jsonld_doc(text: str, base_iri: str | None) -> list[tuple]:
    """Compact / expanded JSON-LD document → ``(graph, subj, pred,
    obj_value, obj_kind, obj_lang, obj_datatype)`` tuples (graph None =
    default graph).

    Supported subset (everything else raises, landing the document in
    the malformed bucket with the error text — the loud-failure policy):
    inline ``@context`` (dict / list of dicts) with term→IRI mappings,
    prefixes, ``@vocab`` / ``@base`` / ``@language``, term definitions
    carrying ``@id`` / ``@type`` (incl. ``"@type": "@id"``) /
    ``@language`` / ``@container: @set``, keyword aliases for ``@id`` /
    ``@type``; node objects with nested nodes (fresh doc-scoped
    ``_:jgen-<md5-10>-<n>`` labels, same discipline as Turtle's
    ``_:tgen``), ``@list`` (rdf:first/rest chains), value objects,
    JSON scalars (xsd:integer / xsd:boolean / canonical xsd:double),
    top-level ``@graph`` arrays (default graph), and NAMED graphs —
    node objects carrying ``@graph`` (JSON-LD 1.0 → RDF datasets; the
    triple-schema entry point rejects those, the quad entry point keeps
    the label). Loud failures: remote contexts, ``@reverse`` and other
    unsupported keywords. Cites reference S5: Jena consumes full
    JSON-LD at Flows.kt:66-77; this covers the self-contained-document
    subset a hermetic batch parser can honor without network fetches.
    """
    from .turtle_io import doc_label_tag

    data = json.loads(text)
    ctx = _Ctx()
    ctx.base = base_iri
    st = _DocState(doc_label_tag(text))
    if isinstance(data, dict):
        local = data.get("@context")
        if local is not None:
            ctx = _parse_context(local, ctx)
        keys = {ctx.aliases.get(k, k) for k in data}
        if "@graph" in keys:
            extra = {
                k for k in data
                if ctx.aliases.get(k, k) not in ("@context", "@graph")
            }
            if extra:
                # §9 named graphs: a root object with @graph AND its own
                # keys is a node object naming a graph — expand it as one
                # (its @id names the graph; its other properties are
                # default-graph statements about that name). @context is
                # stripped: it was parsed above, and re-parsing a context
                # whose terms reference their own prefixes is not
                # idempotent.
                nodes = [{
                    k: v for k, v in data.items()
                    if k != "@context" and ctx.aliases.get(k) != "@context"
                }]
            else:
                # root object that is ONLY a @graph wrapper = default graph
                nodes = _as_list(_alias_get(data, "@graph", ctx))
        else:
            nodes = [data]
    elif isinstance(data, list):
        nodes = data
    else:
        raise ValueError("JSON-LD document must be an object or array")
    for node in nodes:
        if not isinstance(node, dict):
            raise ValueError("top-level node must be an object")
        _expand_node(node, ctx, st)
    return st.out


#: what turns one compact document into a reject row (``rdf_io.parse_docs``)
_DOC_REJECTS = (ValueError, KeyError, TypeError)


def _expand_jsonld_triples(text: str, base_iri: str | None) -> list[tuple]:
    """:func:`_expand_jsonld_doc` for the triple schema: a named graph
    cannot be held there, so it raises."""
    rows = _expand_jsonld_doc(text, base_iri)
    if any(r[0] is not None for r in rows):
        raise ValueError(
            "document contains named graphs (quads) — parse with "
            "parse_jsonld_quads, the triple schema cannot hold a graph label"
        )
    return [r[1:] for r in rows]


def parse_jsonld_docs(
    docs: DataFrame,
    jsonld_col: str = "jsonld",
    carry_cols: tuple[str, ...] = (),
    keep_malformed: bool = False,
    base_iri: str | None = None,
    base_iri_col: str | None = None,
) -> DataFrame:
    """Whole compact-form JSON-LD documents → statement rows (triples).

    Through ``rdf_io.parse_docs``, the per-document driver of every
    whole-document syntax (they parallelize across files; the
    per-document expansion is inherently recursive Python): an
    unparseable/unsupported document yields ONE reject row (``obj_kind``
    NULL, error text in ``obj_value``) under ``keep_malformed=True``,
    else raises. ``base_iri_col`` names a column holding EACH document's
    own address (e.g. ``input_file_name()``) — with a directory input a
    single path-derived base would mis-resolve every file's relative
    IRIs; a non-empty per-row value overrides ``base_iri``.

    A document carrying NAMED graphs is not representable in the triple
    schema and lands in the reject bucket (or raises) — parse those with
    :func:`parse_jsonld_quads`, which emits the ``graph`` column.
    """
    return parse_docs(
        docs, jsonld_col, _expand_jsonld_triples, PARSED_COLUMNS, carry_cols,
        base_iri, base_iri_col, rejects=_DOC_REJECTS,
        keep_malformed=keep_malformed,
    )


def parse_jsonld_quads(
    docs: DataFrame,
    jsonld_col: str = "jsonld",
    carry_cols: tuple[str, ...] = (),
    keep_malformed: bool = False,
    base_iri: str | None = None,
    base_iri_col: str | None = None,
) -> DataFrame:
    """Whole JSON-LD documents → quad rows: ``graph`` (NULL = default
    graph) + the statement columns — the JSON-LD 1.0 named-graph mapping
    to RDF datasets, aligned with ``parse_trig``/``parse_nquads``:

    - a node object carrying ``@graph`` names a graph with its ``@id``
      (fresh doc-scoped blank label when absent); its OTHER properties
      stay in the enclosing graph as statements about the graph name;
    - a root object that is only a ``@context``/``@graph`` wrapper is the
      default graph (no name is minted);
    - graph content nested in object position works the same way (the
      node id is both the object and the graph name).
    """
    return parse_docs(
        docs, jsonld_col, _expand_jsonld_doc, ("graph", *PARSED_COLUMNS),
        carry_cols, base_iri, base_iri_col, rejects=_DOC_REJECTS,
        keep_malformed=keep_malformed,
    )
