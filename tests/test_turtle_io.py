"""Turtle / TriG input parse: roundtrip vs the S10 renderers + edge cases."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from bop_consus_importing_rdf_spark.functions.formats import (
    PREFIXES,
    prefix_directives,
    trig_docs,
    ttl_line,
)
from bop_consus_importing_rdf_spark.functions.ntriples import nt_line
from bop_consus_importing_rdf_spark.sources.turtle_io import (
    XSD_BOOLEAN,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_INTEGER,
    doc_label_tag,
    extract_prefixes,
    parse_trig,
    parse_turtle,
)
from bop_consus_importing_rdf_spark.vocab import RDF_TYPE, XSD_NS

from .conftest import executed_plan_nodes, triples_df

KEY = ["subj", "pred", "obj_value", "obj_kind", "obj_lang", "obj_datatype"]

ROWS = [
    ("urn:s", "http://purl.org/dc/terms/title", "urn:o", "iri"),
    ("_:b0", "urn:p:x", "_:b1", "bnode"),
    ("urn:s", RDF_TYPE, "http://www.w3.org/ns/dcat#Dataset", "iri"),
    ("urn:s", "urn:p:y", 'esc"ape\\me\nnow\ttab', "literal"),
    ("urn:s", "urn:p:y", "hallo", "literal", "de"),
    ("urn:s", "urn:p:y", "42", "literal", None, XSD_NS + "integer"),
    ("urn:s", "urn:p:y", "naïve ünïcode", "literal"),
]


def _nt(df):
    return df.select(nt_line(*[F.col(c) for c in KEY]).alias("line"))


def test_ttl_parse_render_roundtrip(spark):
    """parse ∘ render == identity, compared in N-Triples form (xsd:string
    normalization makes raw-column compare ill-defined, same as RDF/XML)."""
    original = triples_df(spark, ROWS)
    lines = spark.createDataFrame(
        [(d,) for d in prefix_directives()], "value string"
    ).union(
        original.select(ttl_line(*[F.col(c) for c in KEY]).alias("value"))
    )
    parsed = parse_turtle(lines)
    a, b = _nt(parsed), _nt(original)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_ttl_parse_hand_written(spark):
    text = [
        "@prefix ex: <urn:ex:> .",
        "PREFIX dc: <http://purl.org/dc/terms/>",
        "# a comment",
        "",
        "ex:a dc:title \"T\\u00e9st\"@en .",
        "ex:a a ex:Thing .",
        "<urn:x> ex:n 42 .",
        "<urn:x> ex:d 3.14 .",
        "<urn:x> ex:e 1.0e3 .",
        "<urn:x> ex:b true .",
        "<urn:x> ex:t \"typed\"^^ex:dt .",
        "ex:a ex:self ex: .",
    ]
    lines = spark.createDataFrame([(t,) for t in text], "value string")
    got = {
        (r.subj, r.pred): (r.obj_value, r.obj_kind, r.obj_lang, r.obj_datatype)
        for r in parse_turtle(lines).collect()
    }
    assert got[("urn:ex:a", "http://purl.org/dc/terms/title")] == (
        "Tést", "literal", "en", None
    )
    assert got[("urn:ex:a", RDF_TYPE)] == ("urn:ex:Thing", "iri", None, None)
    assert got[("urn:x", "urn:ex:n")] == ("42", "literal", None, XSD_INTEGER)
    assert got[("urn:x", "urn:ex:d")] == ("3.14", "literal", None, XSD_DECIMAL)
    assert got[("urn:x", "urn:ex:e")] == ("1.0e3", "literal", None, XSD_DOUBLE)
    assert got[("urn:x", "urn:ex:b")] == ("true", "literal", None, XSD_BOOLEAN)
    assert got[("urn:x", "urn:ex:t")] == ("typed", "literal", None, "urn:ex:dt")
    assert got[("urn:ex:a", "urn:ex:self")] == ("urn:ex:", "iri", None, None)


def test_ttl_undeclared_prefix_and_unsupported_lines_are_malformed(spark):
    text = [
        "@prefix ex: <urn:ex:> .",
        "nope:a ex:p ex:b .",          # undeclared subject prefix
        "ex:a ex:p nope:b .",          # undeclared object prefix
        "ex:a ex:p \"x\"^^nope:dt .",  # undeclared datatype prefix
        "ex:a ex:p ex:b ; ex:q ex:c .",  # predicate list unsupported
        "ex:a ex:p 'single' .",        # single-quoted unsupported
        "ex:a ex:p ex:b .",            # the one good line
    ]
    lines = spark.createDataFrame([(t,) for t in text], "value string")
    kept = parse_turtle(lines, keep_malformed=True)
    assert kept.filter(F.col("obj_kind").isNotNull()).count() == 1
    assert kept.filter(F.col("obj_kind").isNull()).count() == 5
    assert parse_turtle(lines).count() == 1


def test_ttl_base_directive_raises(spark):
    lines = spark.createDataFrame(
        [("@base <http://x/> .",), ("<a> <b> <c> .",)], "value string"
    )
    with pytest.raises(ValueError, match="@base"):
        extract_prefixes(lines)


def _run_counting_plan_nodes(spark, run):
    """``run()``'s result and the physical-plan node names summed over
    every SQL execution it starts (read from the SQL status store)."""
    result, nodes = executed_plan_nodes(spark, run)
    return result, Counter(name for name, _ in nodes)


def test_parser_plans_one_python_eval_over_materialized_lines(spark, tmp_path):
    """The split-union parse runs each Python pass once. A render union
    the caller checkpointed is parsed with ONE ArrowEvalPython (the assist
    branch is not cloned into the producer branches) by every line
    parser — Turtle, N-Triples, TriG and JSON-LD; on the production
    path, ``parse_turtle_docs``' re-assembly MapInPandas runs once, in
    the normalizer's checkpoint, and the parse adds the one
    ArrowEvalPython."""
    from bop_consus_importing_rdf_spark.functions.formats import (
        jsonld_line, prefix_directives, ttl_grouped_docs, ttl_line,
    )
    from bop_consus_importing_rdf_spark.sources.jsonld_io import (
        parse_jsonld,
    )
    from bop_consus_importing_rdf_spark.sources.rdf_io import (
        parse_ntriples,
    )
    from bop_consus_importing_rdf_spark.sources.turtle_io import (
        parse_turtle_docs,
    )

    from .conftest import triples_df

    triples_df(spark, ROWS).write.mode("overwrite").parquet(
        f"{tmp_path}/t"
    )
    t = spark.read.parquet(f"{tmp_path}/t")
    want = _nt(triples_df(spark, ROWS))

    def render_union(line, directives=()):
        # a multi-branch producer: one rendered branch per object kind
        # plus the directive rows — the shape of the S10 render union
        union = spark.createDataFrame(
            [(d,) for d in directives], "value string"
        )
        for k in ("iri", "bnode", "literal"):
            union = union.union(
                t.filter(F.col("obj_kind") == k).select(
                    line(*[F.col(c) for c in KEY]).alias("value")
                )
            )
        return union.localCheckpoint()

    one_eval = {"ArrowEvalPython": 1}
    cases = [
        (lambda: parse_turtle(
            render_union(ttl_line, prefix_directives()), prefixes=PREFIXES
        ), one_eval),
        (lambda: parse_turtle_docs(ttl_grouped_docs(t), prefixes=PREFIXES),
         {"ArrowEvalPython": 1, "MapInPandas": 1}),
        (lambda: parse_ntriples(render_union(nt_line)), one_eval),
        (lambda: parse_jsonld(render_union(jsonld_line)), one_eval),
        (lambda: parse_trig(
            trig_docs(t.withColumn("doc_id", F.lit("d1"))).localCheckpoint(),
            prefixes=PREFIXES,
        ), one_eval),
    ]
    for parse, want_evals in cases:
        rows, nodes = _run_counting_plan_nodes(
            spark, lambda: _nt(parse()).collect()
        )
        evals = {
            k: n for k, n in nodes.items()
            if k in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")
        }
        assert evals == want_evals, nodes
        got = spark.createDataFrame(rows, want.schema)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_ttl_sentinel_bytes_take_fallback(spark):
    lines = spark.createDataFrame(
        [('<urn:a> <urn:p> "a\x01b\x02c" .',)], "value string"
    )
    got = parse_turtle(lines).collect()
    assert len(got) == 1
    assert got[0].obj_value == "a\x01b\x02c"


def test_trig_parse_roundtrip(spark):
    rows = [
        ("d1",) + r for r in [
            ("urn:s", "urn:p:x", "v1", "literal", None, None),
            ("urn:s", "urn:p:y", "urn:o", "iri", None, None),
        ]
    ] + [
        ("d2", "_:b", "urn:p:x", "hey\nthere", "literal", "en", None),
    ]
    t = spark.createDataFrame(
        rows,
        "doc_id string, subj string, pred string, obj_value string, "
        "obj_kind string, obj_lang string, obj_datatype string",
    )
    docs = trig_docs(t)
    parsed = parse_trig(docs, prefixes=PREFIXES, carry_cols=("doc_id",))
    back = parsed.select(
        "doc_id", *[F.col(c) for c in KEY]
    )
    orig = t.select("doc_id", *[F.col(c) for c in KEY])
    a = back.withColumn("line", nt_line(*[F.col(c) for c in KEY]))
    b = orig.withColumn("line", nt_line(*[F.col(c) for c in KEY]))
    assert a.select("doc_id", "line").exceptAll(b.select("doc_id", "line")).count() == 0
    assert b.select("doc_id", "line").exceptAll(a.select("doc_id", "line")).count() == 0
    # graph column carries the per-document graph IRI
    graphs = {r.graph for r in parsed.select("graph").distinct().collect()}
    assert graphs == {"urn:graph:d1", "urn:graph:d2"}


def test_trig_auto_extracts_prefixes(spark):
    """A standard TriG dump with @prefix directives and prefixed names
    parses with prefixes=None — the harvest.py path for .trig files."""
    from bop_consus_importing_rdf_spark.sources.turtle_io import parse_trig

    doc = "\n".join([
        "@prefix ex: <urn:ex:> .",
        "<urn:g1> {",
        "ex:s ex:p ex:o .",
        "}",
    ])
    docs = spark.createDataFrame([(doc,)], "trig string")
    got = parse_trig(docs).collect()
    assert len(got) == 1
    assert (got[0].graph, got[0].subj, got[0].obj_value) == (
        "urn:g1", "urn:ex:s", "urn:ex:o"
    )


def test_prefix_redefinition_and_bad_directive_raise(spark):
    """Loud-failure policy: a prefix rebound to a different namespace or an
    unparseable directive-shaped line raises instead of silently corrupting
    IRIs / vanishing from the malformed bucket."""
    redef = spark.createDataFrame(
        [("@prefix ex: <urn:one:> .",), ("@prefix ex: <urn:two:> .",)],
        "value string",
    )
    with pytest.raises(ValueError, match="redefined"):
        extract_prefixes(redef)
    # same binding twice is fine
    dup = spark.createDataFrame(
        [("@prefix ex: <urn:one:> .",), ("@prefix ex: <urn:one:> .",)],
        "value string",
    )
    assert extract_prefixes(dup) == {"ex": "urn:one:"}
    bad = spark.createDataFrame(
        [("@prefix ex missing-brackets .",)], "value string"
    )
    with pytest.raises(ValueError, match="unparseable"):
        extract_prefixes(bad)


def test_trig_sentinel_bytes_take_fallback(spark):
    # ADVICE r3 (medium): \x02 in a TriG literal used to silently parse as
    # a backslash (the JVM replace-chain's sentinel), and \x01 landed the
    # statement in the malformed bucket. Both must round-trip exactly.
    doc = '<urn:g> {\n<urn:a> <urn:p> "a\x02c" .\n<urn:a> <urn:q> "x\x01y" .\n}'
    docs = spark.createDataFrame([(doc,)], "trig string")
    got = {
        (r.graph, r.pred): r.obj_value
        for r in parse_trig(docs, prefixes={}).collect()
    }
    assert got == {
        ("urn:g", "urn:p"): "a\x02c",
        ("urn:g", "urn:q"): "x\x01y",
    }


def test_parse_trig_docs_full_grammar(spark):
    """Round-5: full-grammar TriG documents (multi-line statements,
    `;`/`,` lists, bnode lists/collections inside blocks, GRAPH keyword,
    default-graph statements, base-relative graph labels, optional final
    '.' before '}') parse through the tokenizer-based re-assembly."""
    from bop_consus_importing_rdf_spark.sources.turtle_io import (
        parse_trig_docs,
    )

    doc = (
        "@base <http://ex.org/g/> .\n"
        "@prefix ex: <urn:ex:> .\n"
        '<urn:top> ex:p "default" .\n'
        "<g1> {\n"
        "  <urn:a> ex:p <urn:b> ;\n"
        '          ex:q """two\nlines""" .\n'
        "  <urn:a> ex:r [ ex:inner <i> ]\n"
        "}\n"
        'GRAPH ex:g2 { <urn:c> ex:n ( "v" ) . }\n'
    )
    docs = spark.createDataFrame([(doc,)], "trig string")
    got = parse_trig_docs(docs)
    assert got.filter(F.col("obj_kind").isNull()).count() == 0
    rows = {
        (r.graph, r.subj, r.pred): (r.obj_value, r.obj_kind)
        for r in got.collect()
    }
    g1 = "http://ex.org/g/g1"
    assert rows[(None, "urn:top", "urn:ex:p")] == ("default", "literal")
    assert rows[(g1, "urn:a", "urn:ex:p")] == ("urn:b", "iri")
    assert rows[(g1, "urn:a", "urn:ex:q")] == ("two\nlines", "literal")
    bnode = rows[(g1, "urn:a", "urn:ex:r")][0]
    assert bnode.startswith("_:tgen")
    assert rows[(g1, bnode, "urn:ex:inner")] == ("http://ex.org/g/i", "iri")
    head = rows[("urn:ex:g2", "urn:c", "urn:ex:n")][0]
    rdf_ns = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    assert rows[("urn:ex:g2", head, rdf_ns + "first")] == ("v", "literal")
    assert rows[("urn:ex:g2", head, rdf_ns + "rest")] == (
        rdf_ns + "nil", "iri"
    )


def test_trig_duplicate_docs_keep_separate_graph_context(spark):
    # the window partition key is an internal per-document id, so
    # byte-identical documents (and non-unique carry_cols) can never share
    # a window partition or leak graph headers across documents
    doc = "<urn:g1> {\n<urn:a> <urn:p> <urn:o> .\n}"
    docs = spark.createDataFrame(
        [("k", doc), ("k", doc)], "doc_id string, trig string"
    )
    rows = parse_trig(docs, prefixes={}, carry_cols=("doc_id",)).collect()
    assert len(rows) == 2
    assert all(r.graph == "urn:g1" and r.subj == "urn:a" for r in rows)


# ---------------------------------------------------------------------------
# statement re-assembly (round-4: predicate-object lists, multi-line)
# ---------------------------------------------------------------------------

def test_split_statements_expands_lists_and_normalizes_strings():
    from bop_consus_importing_rdf_spark.sources.turtle_io import (
        _split_statements,
    )

    doc = (
        "@prefix ex: <urn:p:> .\n"
        "PREFIX dct: <http://purl.org/dc/terms/>\n"
        "# comment\n"
        "<urn:ds:1> a ex:Dataset ;\n"
        "    dct:title \"One line\"@en , 'single' ;\n"
        "    ex:price 5.0 ;\n"
        "    ex:note \"\"\"tri\"ple\ntext\\u0041\"\"\"^^ex:dt .\n"
        "ex:s2 ex:p <urn:o> . ex:s2 ex:q 1.5 .\n"
        "<urn:bpl> ex:p [ ex:inner \"x\" ] .\n"
        "<urn:unterminated> ex:p \"v\"\n"
    )
    got = _split_statements(doc)
    tg = f"_:tgen-{doc_label_tag(doc)}"
    assert got == [
        "@prefix ex: <urn:p:> .",
        "PREFIX dct: <http://purl.org/dc/terms/>",
        "<urn:ds:1> a ex:Dataset .",
        '<urn:ds:1> dct:title "One line"@en .',
        '<urn:ds:1> dct:title "single" .',
        "<urn:ds:1> ex:price 5.0 .",
        '<urn:ds:1> ex:note "tri\\"ple\\ntext\\u0041"^^ex:dt .',
        "ex:s2 ex:p <urn:o> .",
        "ex:s2 ex:q 1.5 .",
        # round-5: bnode property lists expand with fresh DOC-SCOPED labels
        f'{tg}-1 ex:inner "x" .',
        f"<urn:bpl> ex:p {tg}-1 .",
        # unterminated still collapses to malformed-by-construction
        '<urn:unterminated> ex:p "v"',
    ]


def test_split_statements_bnode_collections_and_base():
    from bop_consus_importing_rdf_spark.sources.turtle_io import (
        _split_statements,
    )

    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    doc = (
        "@base <http://ex.org/base/> .\n"
        "@prefix ex: <vocab#> .\n"
        "<ds1> ex:dist [ a ex:Dist ; ex:url <files/d.csv> ] ;\n"
        "      ex:items ( <i1> \"two\" ) ; ex:empty ( ) .\n"
        "[ ex:standalone \"y\" ] .\n"
    )
    tg = f"_:tgen-{doc_label_tag(doc)}"
    assert _split_statements(doc) == [
        "@prefix ex: <http://ex.org/base/vocab#> .",
        f"{tg}-1 a ex:Dist .",
        f"{tg}-1 ex:url <http://ex.org/base/files/d.csv> .",
        f"<http://ex.org/base/ds1> ex:dist {tg}-1 .",
        f"{tg}-2 <{RDF}first> <http://ex.org/base/i1> .",
        f"{tg}-2 <{RDF}rest> {tg}-3 .",
        f'{tg}-3 <{RDF}first> "two" .',
        f"{tg}-3 <{RDF}rest> <{RDF}nil> .",
        f"<http://ex.org/base/ds1> ex:items {tg}-2 .",
        f"<http://ex.org/base/ds1> ex:empty <{RDF}nil> .",
        f'{tg}-4 ex:standalone "y" .',
    ]


def test_split_statements_long_string_trailing_quotes():
    # ADVICE r4 (medium): a long-string body ending in 1-2 quotes is
    # spec-legal; the terminator is the LAST 3 quotes of the run
    from bop_consus_importing_rdf_spark.sources.turtle_io import (
        _split_statements,
    )

    assert _split_statements('<urn:s> <urn:p> """abc"""" .\n') == [
        '<urn:s> <urn:p> "abc\\"" .'
    ]
    assert _split_statements('<urn:s> <urn:p> """ab""c""""" .\n') == [
        '<urn:s> <urn:p> "ab\\"\\"c\\"\\"" .'
    ]


def test_split_statements_loud_failures():
    import pytest as _pytest

    from bop_consus_importing_rdf_spark.sources.turtle_io import (
        _split_statements,
    )

    # relative IRI with no in-scope base: unresolvable → raise (Jena always
    # has the request address; base_iri supplies it here)
    with _pytest.raises(ValueError, match="relative IRI"):
        _split_statements("<rel> <urn:p> <urn:o> .\n")
    got = _split_statements(
        "<rel> <urn:p> <urn:o> .\n", base_iri="http://h/x/"
    )
    assert got == ["<http://h/x/rel> <urn:p> <urn:o> ."]
    # a document using the reserved synthesized label prefix in
    # blank-node-LABEL position raises ...
    with _pytest.raises(ValueError, match="reserved"):
        _split_statements("_:tgen-deadbeef01-1 <urn:p> <urn:o> .\n")
    # ... but a LITERAL merely containing the string is valid input
    # (r5 review: the guard checks label tokens, not raw document text)
    assert _split_statements(
        '<urn:s> <urn:p> "see _:tgen-deadbeef01-1 here" .\n'
    ) == ['<urn:s> <urn:p> "see _:tgen-deadbeef01-1 here" .']
    # TriG braces inside Turtle collapse to the malformed bucket (the '.'
    # inside the block flushes the open fragment; both pieces are loud)
    assert _split_statements("<urn:g> { <urn:a> <urn:p> <urn:o> . }\n") == [
        "<urn:g> { <urn:a> <urn:p> <urn:o>",
        "}",
    ]


def test_parse_turtle_docs_roundtrip_grouped(spark):
    """Grouped multi-line `;`/`,` rendering → re-assembly parse == the
    original statement set."""
    from bop_consus_importing_rdf_spark.functions.formats import (
        ttl_grouped_docs,
    )
    from bop_consus_importing_rdf_spark.sources.turtle_io import (
        parse_turtle_docs,
    )

    rows = [
        ("urn:s", "urn:p:x", "v1", "literal", None, None),
        ("urn:s", "urn:p:x", "v2", "literal", "en", None),
        ("urn:s", "urn:p:y", "urn:o", "iri", None, None),
        ("_:b", "urn:p:x", "hey\nthere", "literal", None, None),
        ("urn:t", "urn:p:z", "5", "literal", None,
         "http://www.w3.org/2001/XMLSchema#integer"),
    ]
    t = spark.createDataFrame(
        rows,
        "subj string, pred string, obj_value string, obj_kind string, "
        "obj_lang string, obj_datatype string",
    )
    docs = ttl_grouped_docs(t, n_docs=2)
    # every doc is genuinely multi-line with a `;` or `,` list in it
    assert all("\n" in r.ttl for r in docs.collect())
    back = parse_turtle_docs(docs)
    a = back.select(*KEY)
    assert a.exceptAll(t.select(*KEY)).count() == 0
    assert t.select(*KEY).exceptAll(a).count() == 0


def test_parse_turtle_docs_malformed_bucket_counts_unsupported(spark):
    from bop_consus_importing_rdf_spark.sources.turtle_io import (
        parse_turtle_docs,
    )

    doc = (
        "<urn:a> <urn:p> <urn:o> ;\n    <urn:q> \"v\" .\n"
        "<urn:bad> <urn:p> <urn:x> extra-junk .\n"
    )
    docs = spark.createDataFrame([(doc,)], "ttl string")
    kept = parse_turtle_docs(docs, prefixes={}, keep_malformed=True)
    good = kept.filter(F.col("obj_kind").isNotNull())
    bad = kept.filter(F.col("obj_kind").isNull())
    assert good.count() == 2
    assert bad.count() == 1
    assert "extra-junk" in bad.collect()[0].obj_value


def test_parse_turtle_docs_bnode_lists_end_to_end(spark):
    """A real-world-style DCAT document — distributions as blank-node
    property lists, keywords as a collection, @base-relative IRIs — parses
    end to end through the re-assembly + JVM statement machinery."""
    from bop_consus_importing_rdf_spark.sources.turtle_io import (
        parse_turtle_docs,
    )

    doc = (
        "@base <http://data.example.org/catalog/> .\n"
        "@prefix dcat: <http://www.w3.org/ns/dcat#> .\n"
        "@prefix dct: <http://purl.org/dc/terms/> .\n"
        "<ds/1> a dcat:Dataset ;\n"
        '  dct:title "Dataset one"@en ;\n'
        "  dcat:distribution [ a dcat:Distribution ;\n"
        '      dct:format "CSV" ;\n'
        "      dcat:downloadURL <files/one.csv> ] ;\n"
        '  dcat:keyword ( "a" "b" ) .\n'
    )
    docs = spark.createDataFrame([(doc,)], "ttl string")
    got = parse_turtle_docs(docs)
    assert got.filter(F.col("obj_kind").isNull()).count() == 0
    rows = {
        (r.subj, r.pred): (r.obj_value, r.obj_kind)
        for r in got.collect()
    }
    ds = "http://data.example.org/catalog/ds/1"
    dcat = "http://www.w3.org/ns/dcat#"
    assert rows[(ds, RDF_TYPE)] == (dcat + "Dataset", "iri")
    # the distribution subtree hangs off a synthesized bnode
    dist_label = rows[(ds, dcat + "distribution")][0]
    assert dist_label.startswith("_:tgen")
    assert rows[(dist_label, dcat + "downloadURL")] == (
        "http://data.example.org/catalog/files/one.csv", "iri"
    )
    # the keyword collection is an rdf:first/rest chain ending in rdf:nil
    rdf_ns = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    head = rows[(ds, dcat + "keyword")][0]
    assert rows[(head, rdf_ns + "first")] == ("a", "literal")
    nxt = rows[(head, rdf_ns + "rest")][0]
    assert rows[(nxt, rdf_ns + "first")] == ("b", "literal")
    assert rows[(nxt, rdf_ns + "rest")] == (rdf_ns + "nil", "iri")


def test_split_statements_prefix_redefinition():
    """Spec-legal mid-document prefix redefinition (scoped maps): the
    re-assembler emits the FIRST binding as a directive and inline-expands
    pnames (incl. ^^datatype suffixes and TriG graph labels) while a
    conflicting binding is in scope — the downstream file-global prefix
    map never sees the conflict. Rebinding back (A→B→A) returns to pname
    form. A ``^^`` inside a literal body never triggers expansion."""
    from bop_consus_importing_rdf_spark.sources.turtle_io import (
        _split_statements,
        _split_statements_tagged,
    )

    doc = (
        "@prefix ex: <urn:a:> .\n"
        "ex:s ex:p ex:o .\n"
        "@prefix ex: <urn:b:> .\n"
        'ex:s ex:p "x \\" y^^ex:fake"^^ex:dt .\n'
        "@prefix ex: <urn:a:> .\n"
        "ex:s2 a ex:T .\n"
    )
    assert _split_statements(doc) == [
        "@prefix ex: <urn:a:> .",
        "ex:s ex:p ex:o .",
        '<urn:b:s> <urn:b:p> "x \\" y^^ex:fake"^^<urn:b:dt> .',
        "ex:s2 a ex:T .",
    ]
    trig = (
        "@prefix g: <urn:g1:> .\n"
        "@prefix g: <urn:g2:> .\n"
        "g:x { <urn:s> <urn:p> <urn:o> . }\n"
    )
    assert _split_statements_tagged(trig, trig=True) == [
        (None, "@prefix g: <urn:g1:> ."),
        ("urn:g2:x", "<urn:s> <urn:p> <urn:o> ."),
    ]


def test_parse_turtle_docs_prefix_redefinition_e2e(spark):
    from bop_consus_importing_rdf_spark.sources.turtle_io import (
        parse_turtle_docs,
    )

    doc = (
        "@prefix ex: <urn:a:> .\n"
        "ex:s ex:p ex:o .\n"
        "@prefix ex: <urn:b:> .\n"
        'ex:s ex:p "v"^^ex:dt .\n'
    )
    rows = parse_turtle_docs(
        spark.createDataFrame([(doc,)], "ttl string")
    ).collect()
    got = {(r.subj, r.pred, r.obj_value, r.obj_kind, r.obj_datatype)
           for r in rows}
    assert got == {
        ("urn:a:s", "urn:a:p", "urn:a:o", "iri", None),
        ("urn:b:s", "urn:b:p", "v", "literal", "urn:b:dt"),
    }
