"""N-Quads and flattened JSON-LD input parse: roundtrips + edge cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from bop_consus_importing_rdf_spark.functions.formats import (
    graph_iri,
    jsonld_line,
    nq_line,
)
from bop_consus_importing_rdf_spark.functions.ntriples import nt_line
from bop_consus_importing_rdf_spark.sources.jsonld_io import parse_jsonld
from bop_consus_importing_rdf_spark.sources.rdf_io import (
    _NQ_SPLIT,
    parse_nquads,
)

from .conftest import executed_plan_nodes

KEY = ["subj", "pred", "obj_value", "obj_kind", "obj_lang", "obj_datatype"]

ROWS = [
    ("d1", "urn:s", "urn:p", "urn:o", "iri", None, None),
    ("d1", "_:b0", "urn:p", "_:b1", "bnode", None, None),
    ("d2", "urn:s", "urn:p", 'esc"ape\\me\nnow\ttab', "literal", None, None),
    ("d2", "urn:s", "urn:p", "hallo", "literal", "de", None),
    ("d2", "urn:s", "urn:p", "42", "literal", None,
     "http://www.w3.org/2001/XMLSchema#integer"),
    ("d3", "urn:s", "urn:p", "naïve ünïcode \x01ctl", "literal", None, None),
]


def _docs(spark):
    return spark.createDataFrame(
        ROWS,
        "doc_id string, subj string, pred string, obj_value string, "
        "obj_kind string, obj_lang string, obj_datatype string",
    )


def test_nquads_parse_render_roundtrip(spark):
    t = _docs(spark)
    lines = t.select(
        nq_line(F.col("doc_id"), *[F.col(c) for c in KEY]).alias("value")
    )
    parsed = parse_nquads(lines)
    a = parsed.select(
        "graph", nt_line(*[F.col(c) for c in KEY]).alias("line")
    )
    b = t.select(
        graph_iri(F.col("doc_id")).alias("graph"),
        nt_line(*[F.col(c) for c in KEY]).alias("line"),
    )
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_nquads_default_graph_and_malformed(spark):
    lines = spark.createDataFrame(
        [
            ("<urn:a> <urn:p> <urn:o> .",),          # bare triple: NULL graph
            ("<urn:a> <urn:p> <urn:o> _:g .",),      # bnode graph label
            ("utter garbage",),
        ],
        "value string",
    )
    kept = parse_nquads(lines, keep_malformed=True).collect()
    got = {r.obj_kind: r.graph for r in kept}
    assert len(kept) == 3
    rows = {(r.subj, r.graph) for r in kept if r.obj_kind is not None}
    assert rows == {("urn:a", None), ("urn:a", "_:g")}
    assert sum(1 for r in kept if r.obj_kind is None) == 1
    assert got is not None  # silence lints


def test_nquads_file_parse_scans_and_splits_each_line_once(spark, tmp_path):
    """Over a file scan the graph-label split is one materialized line
    stream: across every execution the parse starts there is ONE file
    scan and ONE projection running the label regex (its extract and its
    rewrite), not a copy per split-union branch."""
    import re

    lines = [
        "<urn:s> <urn:p> <urn:o> <urn:g> .",
        '<urn:s> <urn:p> "x"@en _:g1 .',
        '<urn:s> <urn:p> "caf\\u00e9" <urn:g> .',  # assist branch
        "<urn:a> <urn:b> <urn:c> .",  # default graph
        "junk",
    ]
    path = tmp_path / "dump.nq"
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")
    rows, nodes = executed_plan_nodes(
        spark, lambda: parse_nquads(spark.read.text(str(path))).collect()
    )
    assert sorted((r.graph or "", r.subj, r.obj_value) for r in rows) == [
        ("", "urn:a", "urn:c"),
        ("_:g1", "urn:s", "x"),
        ("urn:g", "urn:s", "café"),
        ("urn:g", "urn:s", "urn:o"),
    ]
    scans = [n for n, _ in nodes if n.startswith("Scan text")]
    assert scans == ["Scan text "]
    split = re.compile(
        r"regexp_(extract|replace)\(\w+#\d+, " + re.escape(_NQ_SPLIT)
    )
    carriers = [(n, split.findall(d)) for n, d in nodes if split.search(d)]
    assert carriers == [("Project", ["extract", "replace"])], carriers


def test_jsonld_parse_render_roundtrip(spark):
    t = _docs(spark).filter(~F.col("obj_value").contains("\x01"))
    lines = t.select(
        jsonld_line(*[F.col(c) for c in KEY]).alias("value")
    )
    parsed = parse_jsonld(lines)
    a = parsed.select(nt_line(*[F.col(c) for c in KEY]).alias("line"))
    b = t.select(nt_line(*[F.col(c) for c in KEY]).alias("line"))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_jsonld_control_chars_roundtrip_via_u_escapes(spark):
    """C0 controls render as \\u00XX (JSON requires it) and parse back."""
    t = spark.createDataFrame(
        [("urn:s", "urn:p", "a\x01b\x02c\x07d", "literal", None, None)],
        "subj string, pred string, obj_value string, obj_kind string, "
        "obj_lang string, obj_datatype string",
    )
    lines = t.select(jsonld_line(*[F.col(c) for c in KEY]).alias("value"))
    raw = lines.collect()[0].value
    assert "\\u0001" in raw and "\x01" not in raw
    got = parse_jsonld(lines).collect()[0]
    assert got.obj_value == "a\x01b\x02c\x07d"
    assert got.obj_kind == "literal"


def test_jsonld_malformed_bucket(spark):
    lines = spark.createDataFrame(
        [('{"@context": "http://x", "name": "full jsonld doc"}',),
         ('{"@id":"s","p":[{"@id":"o"}]}',)],
        "value string",
    )
    kept = parse_jsonld(lines, keep_malformed=True)
    assert kept.filter(F.col("obj_kind").isNull()).count() == 1
    assert parse_jsonld(lines).count() == 1


def test_jsonld_invalid_escapes_land_malformed_not_crash(spark):
    """Structurally-matching lines with invalid JSON escapes must land in
    the malformed bucket — strict json.loads rejects them — not crash the
    job (the old field-level UDF raised) and not silently mis-decode."""
    lines = spark.createDataFrame(
        [
            ('{"@id":"a\\uZZZZ","p":[{"@id":"b"}]}',),   # bad \\u escape
            ('{"@id":"a\\x41","p":[{"@id":"b"}]}',),     # \\x not valid JSON
            ('{"@id":"\\u0041","p":[{"@id":"b"}]}',),    # valid \\u → 'A'
        ],
        "value string",
    )
    kept = parse_jsonld(lines, keep_malformed=True).collect()
    by_kind = {}
    for r in kept:
        by_kind.setdefault(r.obj_kind, []).append(r)
    assert len(by_kind.get(None, [])) == 2
    good = by_kind["iri"]
    assert len(good) == 1 and good[0].subj == "A"


def _rows(df):
    return {
        (r.subj, r.pred, r.obj_value, r.obj_kind, r.obj_lang, r.obj_datatype)
        for r in df.collect()
    }


def test_jsonld_docs_expanded_form_and_top_level_array(spark):
    from bop_consus_importing_rdf_spark.sources.jsonld_io import (
        parse_jsonld_docs,
    )

    doc = (
        '[{"@id": "urn:a", "urn:p": [{"@id": "urn:b"},'
        ' {"@value": "v", "@language": "fr"}]},'
        ' {"@id": "urn:c", "urn:q": {"@value": "5",'
        ' "@type": "http://www.w3.org/2001/XMLSchema#byte"}}]'
    )
    df = spark.createDataFrame([(doc,)], "jsonld string")
    got = _rows(parse_jsonld_docs(df))
    assert got == {
        ("urn:a", "urn:p", "urn:b", "iri", None, None),
        ("urn:a", "urn:p", "v", "literal", "fr", None),
        ("urn:c", "urn:q", "5", "literal", None,
         "http://www.w3.org/2001/XMLSchema#byte"),
    }


def test_jsonld_docs_loud_failures_and_reject_rows(spark):
    import pytest

    from bop_consus_importing_rdf_spark.sources.jsonld_io import (
        parse_jsonld_docs,
    )

    bad = [
        # remote context
        '{"@context": "http://remote.example/ctx", "@id": "urn:a"}',
        # @reverse
        '{"@id": "urn:a", "@reverse": {"urn:p": {"@id": "urn:b"}}}',
        # named graph with content — actual quads the triple schema
        # cannot hold (content-free @graph wrappers are accepted: they
        # produce no quad rows)
        '{"@id": "urn:g", "@graph": [{"@id": "urn:a", "urn:q": "y"}], '
        '"urn:p": "x"}',
        # relative @id with no base anywhere
        '{"@id": "thing", "urn:p": "x"}',
        # not JSON at all
        "{nope",
    ]
    df = spark.createDataFrame([(b,) for b in bad], "jsonld string")
    # strict mode: the task fails (surfaced as a PythonException /
    # Py4J error depending on Spark version — assert on the message)
    with pytest.raises(Exception, match="ValueError"):
        parse_jsonld_docs(df).collect()
    # lineage mode: one reject row per bad document
    rej = parse_jsonld_docs(df, keep_malformed=True).collect()
    assert len(rej) == len(bad)
    assert all(r.obj_kind is None and r.subj is None for r in rej)
    texts = [r.obj_value for r in rej]
    assert any("remote" in t for t in texts)
    assert any("@reverse" in t for t in texts)
    assert any("quads" in t or "named graph" in t for t in texts)
    assert any("relative IRI" in t for t in texts)


def test_jsonld_docs_per_file_base_and_local_context(spark):
    from pyspark.sql import functions as F

    from bop_consus_importing_rdf_spark.sources.jsonld_io import (
        parse_jsonld_docs,
    )

    doc = '{"@id": "item", "urn:p": {"@context": {"@vocab": "urn:v:"}, "@id": "urn:x", "w": "y"}}'
    rows = [(doc, "http://h1.org/a/f1.jsonld"), (doc, "http://h2.org/b/f2.jsonld")]
    df = spark.createDataFrame(rows, "jsonld string, src string")
    got = _rows(
        parse_jsonld_docs(df, base_iri_col="src").select(
            "subj", "pred", "obj_value", "obj_kind", "obj_lang",
            "obj_datatype"
        )
    )
    # each file resolves "item" against ITS OWN address; the nested
    # node's local @context supplies @vocab for its keys
    assert ("http://h1.org/a/item", "urn:p", "urn:x", "iri", None, None) in got
    assert ("http://h2.org/b/item", "urn:p", "urn:x", "iri", None, None) in got
    assert ("urn:x", "urn:v:w", "y", "literal", None, None) in got


def test_jsonld_docs_context_edges(spark):
    from bop_consus_importing_rdf_spark.sources.jsonld_io import (
        _canon_double,
        parse_jsonld_docs,
    )

    # JSON-LD 1.1 canonical double lexical forms
    assert _canon_double(2.5) == "2.5E0"
    assert _canon_double(1.0) == "1.0E0"
    assert _canon_double(0.001) == "1.0E-3"
    assert _canon_double(12345.678) == "1.2345678E4"

    doc = (
        '{"@context": {"ex": "urn:ex:",'
        ' "keep": {"@id": "ex:keep", "@container": "@set"},'
        ' "dropme": null},'
        ' "@id": "urn:s", "keep": ["a", "b"], "dropme": "gone"}'
    )
    df = spark.createDataFrame([(doc,)], "jsonld string")
    got = _rows(parse_jsonld_docs(df))
    # @set containers are transparent; a null term definition DROPS the
    # key (spec: decoupled term) rather than vocab-expanding it
    assert got == {
        ("urn:s", "urn:ex:keep", "a", "literal", None, None),
        ("urn:s", "urn:ex:keep", "b", "literal", None, None),
    }


def test_jsonld_quads_named_graphs(spark):
    from bop_consus_importing_rdf_spark.oracle import (
        JSONLD_GRAPH_DOC,
        JSONLD_GRAPH_EXPECTED,
    )
    from bop_consus_importing_rdf_spark.sources.jsonld_io import (
        parse_jsonld_quads,
    )
    from bop_consus_importing_rdf_spark.sources.turtle_io import (
        doc_label_tag,
    )

    tag = doc_label_tag(JSONLD_GRAPH_DOC)
    df = spark.createDataFrame([(JSONLD_GRAPH_DOC,)], "jsonld string")
    rows = parse_jsonld_quads(df).collect()
    got = {
        (r.graph, r.subj, r.pred, r.obj_value, r.obj_kind)
        for r in rows
    }
    # the graph node's OWN property lands in the DEFAULT graph (a
    # statement about the graph name), its @graph content in the named
    # graph; a node object with only @graph gets a blank graph label
    assert (None, "urn:ex:g1", "urn:ex:label", "graph one", "literal") in got
    assert ("urn:ex:g1", "urn:ex:a", "urn:ex:p", "urn:ex:b", "iri") in got
    assert (
        "urn:ex:g1", f"_:jgen-{tag}-1", "urn:ex:inner", "anon", "literal"
    ) in got
    assert (f"_:jgen-{tag}-2", "urn:ex:c", "urn:ex:q", "7", "literal") in got
    assert len(rows) == len(JSONLD_GRAPH_EXPECTED)
    # the triple entry point rejects the same document loudly
    import pytest

    from bop_consus_importing_rdf_spark.sources.jsonld_io import (
        parse_jsonld_docs,
    )

    with pytest.raises(Exception, match="quads"):
        parse_jsonld_docs(df).collect()
