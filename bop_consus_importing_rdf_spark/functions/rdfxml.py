"""RDF/XML serialization + parsing (reference S5/S10).

The reference's hardcoded *input* content type is ``application/rdf+xml``
(``Flows.kt:47-48``) and Jena parses/serializes it (``JenaUtils.read``,
``Flows.kt:66-77``; output format list ``config.schema.json:40-50``). No RDF
library exists in this container, so both directions are implemented
natively against the statement-table model:

- **render**: one ``<rdf:Description>`` block PER STATEMENT (spec-valid —
  RDF/XML merges repeated Description blocks for one subject), built as a
  pure column expression; the namespace of each predicate is declared
  inline on the property element, which sidesteps a global prefix table.
  Document assembly is one ``collect_list`` per source document.
- **parse**: ``_parse_doc`` per whole document, run by
  ``sources/rdf_io.parse_docs`` (the one per-document driver of every
  whole-document syntax), using stdlib ``xml.etree`` — namespace-aware,
  full grammar since round 5: ``rdf:Description`` and typed node
  elements, ``rdf:about``/``rdf:nodeID`` (blank)/``rdf:ID`` subjects,
  ``rdf:resource``/``rdf:nodeID`` object attributes, nested node elements (anonymous → generated blank ids),
  literals with inherited ``xml:lang`` and ``rdf:datatype``, ``rdf:li``
  container expansion (``rdf:_1`` …), ``rdf:parseType``
  Resource/Collection/Literal, scoped ``xml:base`` + RFC 3986 relative-IRI
  resolution (resolver shared with the Turtle parser), and property
  attributes on node and property elements. Withdrawn syntax
  (``rdf:aboutEach``/``rdf:bagID``) and property-element ``rdf:ID``
  (reification) raise cleanly rather than mis-parse.

Round-trip (render ∘ parse == id over the fixture graph) is an oracle-gated
driver query: the N-Triples lines of the round-tripped statements must hash
equal to ``nt_render`` straight off the graph.
"""

from __future__ import annotations

from xml.etree.ElementTree import ParseError

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.rdf_io import PARSED_COLUMNS, parse_docs
from ..vocab import KIND_BNODE, KIND_IRI, RDF_TYPE

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XML_NS = "http://www.w3.org/XML/1998/namespace"

_LOCAL_NAME_RE = r"([A-Za-z_][A-Za-z0-9_.\-]*)$"


def xml_escape_text(col: Column) -> Column:
    """``&`` first, then ``<``/``>``, then ``\\r`` — element text escaping.

    ``\\r`` must become the character reference ``&#13;``: XML parsers
    normalize raw CR (and CRLF) in text content to LF, which would silently
    corrupt a literal on round-trip (found by property testing — the ECHAR
    set tempts you to treat ``\\r`` like ``\\n``, but only ``\\n``/``\\t``
    survive as raw text). Replaced LAST so its ``&`` is not re-escaped.
    """
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    out = F.replace(out, F.lit(">"), F.lit("&gt;"))
    return F.replace(out, F.lit("\r"), F.lit("&#13;"))


def xml_escape_attr(col: Column) -> Column:
    return F.replace(xml_escape_text(col), F.lit('"'), F.lit("&quot;"))


# code points XML 1.0 cannot represent AT ALL (not even as char refs)
_XML_INVALID = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"


def rdfxml_fragment(
    subj: Column, pred: Column, obj_value: Column, obj_kind: Column,
    obj_lang: Column, obj_datatype: Column,
) -> Column:
    """One ``<rdf:Description>…</rdf:Description>`` block for one statement.

    A literal containing a code point XML 1.0 cannot represent (C0 controls
    other than TAB/LF/CR) makes the graph UNSERIALIZABLE as RDF/XML — a
    documented limitation of the syntax, not of this writer. Such rows
    ``raise_error`` at render time with the offending subject, instead of
    silently emitting a document no parser will accept (which is what a
    naive writer does — found by property testing). N-Triples/Turtle
    serialize such literals fine via ``\\u`` escapes.
    """
    local = F.regexp_extract(pred, _LOCAL_NAME_RE, 1)
    ns = F.substring(pred, F.lit(1), F.length(pred) - F.length(local))
    subj_attr = F.when(
        subj.startswith("_:"),
        F.concat(F.lit('rdf:nodeID="'), F.substring(subj, 3, 1 << 20), F.lit('"')),
    ).otherwise(F.concat(F.lit('rdf:about="'), xml_escape_attr(subj), F.lit('"')))
    open_prop = F.concat(
        F.lit("<n:"), local, F.lit(' xmlns:n="'), xml_escape_attr(ns), F.lit('"')
    )
    lang_attr = F.when(
        obj_lang.isNotNull() & (obj_lang != ""),
        F.concat(F.lit(' xml:lang="'), obj_lang, F.lit('"')),
    ).otherwise(F.lit(""))
    dt_attr = F.when(
        obj_datatype.isNotNull() & (obj_datatype != ""),
        F.concat(F.lit(' rdf:datatype="'), xml_escape_attr(obj_datatype), F.lit('"')),
    ).otherwise(F.lit(""))
    prop = (
        F.when(
            obj_kind == KIND_IRI,
            F.concat(
                open_prop, F.lit(' rdf:resource="'), xml_escape_attr(obj_value),
                F.lit('"/>'),
            ),
        )
        .when(
            obj_kind == KIND_BNODE,
            F.concat(
                open_prop, F.lit(' rdf:nodeID="'),
                F.substring(obj_value, 3, 1 << 20), F.lit('"/>'),
            ),
        )
        .otherwise(
            F.concat(
                open_prop, lang_attr, dt_attr, F.lit(">"),
                F.when(
                    obj_value.rlike(_XML_INVALID),
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "literal contains a code point XML 1.0 "
                                "cannot represent (C0 control); graph is "
                                "not RDF/XML-serializable — subject: "
                            ),
                            subj,
                        )
                    ),
                ).otherwise(xml_escape_text(obj_value)),
                F.lit("</n:"), local, F.lit(">"),
            )
        )
    )
    return F.concat(
        F.lit("<rdf:Description "), subj_attr, F.lit(">"), prop,
        F.lit("</rdf:Description>"),
    )


def render_rdfxml_docs(
    triples: DataFrame, doc_col: str = "doc_id"
) -> DataFrame:
    """``(doc_col, xml)`` — one full RDF/XML document per source document.

    Fragments are sorted before concatenation so the document bytes are
    deterministic under any partitioning.
    """
    frag = rdfxml_fragment(
        F.col("subj"), F.col("pred"), F.col("obj_value"),
        F.col("obj_kind"), F.col("obj_lang"), F.col("obj_datatype"),
    )
    return (
        triples.withColumn("_frag", frag)
        .groupBy(doc_col)
        .agg(
            F.concat(
                F.lit(
                    '<?xml version="1.0" encoding="utf-8"?>\n'
                    f'<rdf:RDF xmlns:rdf="{RDF_NS}">'
                ),
                F.concat_ws("", F.array_sort(F.collect_list("_frag"))),
                F.lit("</rdf:RDF>"),
            ).alias("xml")
        )
    )


# ---------------------------------------------------------------------------
# parsing
# ---------------------------------------------------------------------------

def _expand(tag: str) -> str:
    """etree ``{ns}local`` → full IRI ``nslocal``."""
    if tag.startswith("{"):
        ns, local = tag[1:].split("}", 1)
        return ns + local
    return tag


#: rdf: attributes consumed structurally by the grammar walk — anything
#: else in the rdf: namespace on an element is either withdrawn syntax
#: (``aboutEach``/``bagID``) or reification (property-element ``ID``),
#: both rejected loudly rather than mis-parsed.
_RDF_SYNTAX_ATTRS = frozenset(
    {"about", "nodeID", "ID", "resource", "datatype", "parseType"}
)
RDF_XML_LITERAL = RDF_NS + "XMLLiteral"


def _parse_doc(xml: str, base_iri: str | None = None) -> list[tuple]:
    """Full RDF/XML grammar walk (W3C rdf-syntax-grammar sections noted
    inline): node/property elements, ``rdf:li`` container expansion,
    ``rdf:parseType`` Resource/Collection/Literal, ``rdf:ID`` + scoped
    ``xml:base`` with RFC 3986 resolution (shared with the Turtle parser,
    ``turtle_io.resolve_iri`` — relative IRIs with no in-scope base raise
    its loud error), and property attributes on node and property
    elements. Reference ingests RDF/XML via Jena (``Flows.kt:47-48``);
    the fresh-bnode/counter behavior mirrors Jena's genid allocation."""
    import xml.etree.ElementTree as ET

    from ..sources.turtle_io import doc_label_tag, resolve_iri

    root = ET.fromstring(xml)
    rows: list[tuple] = []
    # anon-node labels are ``_:xgen-<doc-md5-10>-<n>`` — doc-scoped for the
    # same reason as the Turtle parser's ``_:tgen-…`` (turtle_io.py): a
    # per-document counter alone would collide across files of a
    # multi-file harvest and silently merge unrelated bnodes on union
    gen = [0, doc_label_tag(xml)]

    def fresh_bnode() -> str:
        gen[0] += 1
        return f"_:xgen-{gen[1]}-{gen[0]}"

    def checked_label(node_id: str) -> str:
        if node_id.startswith("xgen-"):
            raise ValueError(
                "rdf:nodeID label collides with the synthesized anon-node "
                "prefix 'xgen-'"
            )
        return "_:" + node_id

    def scoped_base(el, base: str | None) -> str | None:
        b = el.get(f"{{{XML_NS}}}base")
        if b is None:
            return base
        # a relative xml:base resolves against the outer scope (RFC 3986
        # §5.1.1); fragments are dropped from a base per §5.1
        return resolve_iri(base, b).split("#", 1)[0]

    def node_subject(el, base: str | None) -> str:
        about = el.get(f"{{{RDF_NS}}}about")
        node_id = el.get(f"{{{RDF_NS}}}nodeID")
        rdf_id = el.get(f"{{{RDF_NS}}}ID")
        if sum(x is not None for x in (about, node_id, rdf_id)) > 1:
            raise ValueError(
                "at most one of rdf:about / rdf:nodeID / rdf:ID is allowed "
                "on a node element"
            )
        if about is not None:
            return resolve_iri(base, about)
        if node_id is not None:
            return checked_label(node_id)
        if rdf_id is not None:
            # §2.14: rdf:ID="name" on a node element ≡ rdf:about="#name"
            return resolve_iri(base, "#" + rdf_id)
        return fresh_bnode()

    def emit_prop_attrs(subj: str, el, lang: str | None, base: str | None):
        """§2.5/§2.12 property attributes: every non-syntax attribute is a
        literal property of ``subj`` (rdf:type: an IRI property)."""
        for k, v in el.attrib.items():
            full = _expand(k)
            if full.startswith(XML_NS):
                continue
            if full.startswith(RDF_NS):
                local = full[len(RDF_NS):]
                if local in _RDF_SYNTAX_ATTRS:
                    continue
                if full == RDF_TYPE:
                    rows.append(
                        (subj, RDF_TYPE, resolve_iri(base, v), KIND_IRI,
                         None, None)
                    )
                    continue
                raise ValueError(
                    f"rdf:{local} attribute is withdrawn or unsupported "
                    "RDF/XML syntax"
                )
            rows.append((subj, full, v, "literal", lang, None))

    def walk_props(subj: str, el, lang: str | None, base: str | None):
        """Property elements of one node element (or of one
        ``parseType="Resource"`` pseudo-node)."""
        li = [0]
        for pel in el:
            pred = _expand(pel.tag)
            if pred == RDF_NS + "li":
                # §2.15 container membership: li → rdf:_1, rdf:_2, …
                # numbered per PARENT element
                li[0] += 1
                pred = f"{RDF_NS}_{li[0]}"
            if pel.get(f"{{{RDF_NS}}}ID") is not None:
                raise ValueError(
                    "rdf:ID on a property element (statement reification) "
                    "is outside the supported subset"
                )
            p_base = scoped_base(pel, base)
            p_lang = pel.get(f"{{{XML_NS}}}lang", lang)
            parse_type = pel.get(f"{{{RDF_NS}}}parseType")
            resource = pel.get(f"{{{RDF_NS}}}resource")
            node_ref = pel.get(f"{{{RDF_NS}}}nodeID")
            dt = pel.get(f"{{{RDF_NS}}}datatype")
            children = list(pel)
            if parse_type == "Resource":
                # §2.16: implicit blank node owning the nested properties
                b = fresh_bnode()
                rows.append((subj, pred, b, KIND_BNODE, None, None))
                emit_prop_attrs(b, pel, p_lang, p_base)
                walk_props(b, pel, p_lang, p_base)
            elif parse_type == "Collection":
                # §2.18: children are node elements chained rdf:first/rest
                items = [walk_node(c, p_lang, p_base) for c in children]
                cell = RDF_NS + "nil"
                kind = KIND_IRI
                for item in reversed(items):
                    nxt = fresh_bnode()
                    rows.append((nxt, RDF_NS + "rest", cell, kind, None, None))
                    rows.append(
                        (nxt, RDF_NS + "first", item,
                         KIND_BNODE if item.startswith("_:") else KIND_IRI,
                         None, None)
                    )
                    cell, kind = nxt, KIND_BNODE
                rows.append((subj, pred, cell, kind, None, None))
            elif parse_type is not None:
                # §2.9: "Literal" — and any OTHER value is treated as
                # Literal per the grammar (parseTypeOtherPropertyElt) —
                # the lexical form is the serialized inner XML
                inner = pel.text or ""
                inner += "".join(
                    ET.tostring(c, encoding="unicode") for c in children
                )
                rows.append(
                    (subj, pred, inner, "literal", None, RDF_XML_LITERAL)
                )
            elif resource is not None or node_ref is not None:
                if resource is not None and node_ref is not None:
                    raise ValueError(
                        "rdf:resource and rdf:nodeID cannot both appear on "
                        "one property element"
                    )
                if resource is not None:
                    obj, kind = resolve_iri(p_base, resource), KIND_IRI
                else:
                    obj, kind = checked_label(node_ref), KIND_BNODE
                rows.append((subj, pred, obj, kind, None, None))
                # §2.12: property attributes apply to the object resource
                emit_prop_attrs(obj, pel, p_lang, p_base)
            elif children:
                obj = walk_node(children[0], p_lang, p_base)
                kind = KIND_BNODE if obj.startswith("_:") else KIND_IRI
                rows.append((subj, pred, obj, kind, None, None))
            else:
                non_syntax_attrs = [
                    k for k in pel.attrib
                    if not _expand(k).startswith(XML_NS)
                    and _expand(k) != RDF_NS + "datatype"
                ]
                if non_syntax_attrs:
                    # §2.12 shorthand: empty property element whose
                    # property attributes describe a fresh blank node
                    b = fresh_bnode()
                    rows.append((subj, pred, b, KIND_BNODE, None, None))
                    emit_prop_attrs(b, pel, p_lang, p_base)
                else:
                    text = pel.text or ""
                    rows.append(
                        (subj, pred, text, "literal",
                         None if dt is not None else p_lang,
                         resolve_iri(p_base, dt) if dt is not None else None)
                    )

    def walk_node(el, inherited_lang: str | None, base: str | None) -> str:
        base = scoped_base(el, base)
        subj = node_subject(el, base)
        lang = el.get(f"{{{XML_NS}}}lang", inherited_lang)
        tag = _expand(el.tag)
        if tag != RDF_NS + "Description":
            rows.append((subj, RDF_TYPE, tag, KIND_IRI, None, None))
        emit_prop_attrs(subj, el, lang, base)
        walk_props(subj, el, lang, base)
        return subj

    root_lang = root.get(f"{{{XML_NS}}}lang")
    root_base = scoped_base(root, base_iri)
    for el in root:
        walk_node(el, root_lang, root_base)
    return rows


def parse_rdfxml(
    docs: DataFrame,
    xml_col: str = "xml",
    carry_cols: tuple[str, ...] = (),
    keep_malformed: bool = False,
    base_iri: str | None = None,
    base_iri_col: str | None = None,
) -> DataFrame:
    """Whole RDF/XML documents → statement rows, through
    ``sources/rdf_io.parse_docs``, the per-document driver of every
    whole-document syntax.

    ``carry_cols`` (e.g. the source doc id) are replicated onto every
    emitted statement row. ``keep_malformed=True`` mirrors
    ``parse_ntriples``'s lineage behavior: an unparseable document yields
    ONE reject row (``obj_kind`` NULL, the error text in ``obj_value``)
    instead of failing the task — the reference rethrows with address
    context (``Flows.kt:75-77``); here the address IS the carry column.

    ``base_iri`` is the document address (Jena's ``baseUri``,
    ``Flows.kt:69``) used to resolve relative ``rdf:about`` /
    ``rdf:resource`` / ``rdf:datatype`` and ``rdf:ID`` fragments; an
    in-document ``xml:base`` overrides it element-scoped. A relative IRI
    with neither raises loudly (→ the reject bucket under
    ``keep_malformed``), never lands unresolved. ``base_iri_col`` names a
    column carrying a PER-ROW document address (``input_file_name()`` on
    a directory ingest); an empty/NULL cell falls back to ``base_iri``.
    """
    return parse_docs(
        docs, xml_col, _parse_doc, PARSED_COLUMNS, carry_cols, base_iri,
        base_iri_col, rejects=(ParseError, ValueError),
        keep_malformed=keep_malformed,
    )
