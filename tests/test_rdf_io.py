"""S1/S3/S4/S5: gzip source read, pre-processing, N-Triples parse round-trip."""

from __future__ import annotations

import gzip
import re

import pytest
from pyspark.sql import functions as F

from bop_consus_importing_rdf_spark.functions.ntriples import nt_line
from bop_consus_importing_rdf_spark.sources.rdf_io import (
    _NT_PACKED_PATTERN,
    parse_ntriples,
    pre_process,
    read_rdf_source,
)

from .conftest import executed_plan_nodes, triples_df

ROUNDTRIP_ROWS = [
    ("urn:s", "urn:p", "urn:o", "iri"),
    ("_:b0", "urn:p", "_:b1", "bnode"),
    ("urn:s", "urn:p", 'esc"ape\\me\nnow\ttab', "literal"),
    ("urn:s", "urn:p", "hallo", "literal", "de"),
    ("urn:s", "urn:p", "42", "literal", None,
     "http://www.w3.org/2001/XMLSchema#integer"),
    ("urn:s", "urn:p", "naïve ünïcode", "literal"),
]

KEY = ["subj", "pred", "obj_value", "obj_kind", "obj_lang", "obj_datatype"]


def _render(spark):
    df = triples_df(spark, ROUNDTRIP_ROWS)
    return df, df.select(
        nt_line(*[F.col(c) for c in KEY]).alias("value")
    )


def test_parse_render_roundtrip(spark):
    original, lines = _render(spark)
    parsed = parse_ntriples(lines)
    assert parsed.select(KEY).exceptAll(original.select(KEY)).count() == 0
    assert original.select(KEY).exceptAll(parsed.select(KEY)).count() == 0


def test_parse_skips_comments_blank_and_malformed(spark):
    lines = spark.createDataFrame(
        [("# comment",), ("",), ("  ",), ("not a triple at all",),
         ("<urn:s> <urn:p> <urn:o> .",)],
        "value string",
    )
    out = parse_ntriples(lines)
    assert out.count() == 1
    kept = parse_ntriples(lines, keep_malformed=True)
    assert kept.count() == 2  # malformed row retained with null kind
    assert kept.filter(F.col("obj_kind").isNull()).count() == 1


def test_raw_control_bytes_in_literals(spark):
    """Plain NT permits raw C0 controls in literal bodies; the JVM path's
    in-band sentinels must not corrupt or drop such lines (ADVICE r2)."""
    rows = [
        ('<urn:a> <urn:p> "a\x02b" .', ("urn:a", "a\x02b", "literal")),
        ('<urn:b> <urn:p> "a\x01b" .', ("urn:b", "a\x01b", "literal")),
        ('<urn:c> <urn:p> "\x01" .', ("urn:c", "\x01", "literal")),
        ('<urn:d> <urn:p> "mix\x01\\n\x02\\u00e9" .',
         ("urn:d", "mix\x01\n\x02é", "literal")),
        # escaped backslash before 'u' routes to Python (contains "\\u")
        # but must decode to a literal backslash + u, NOT an escape
        ('<urn:e> <urn:p> "a\\\\unchanged" .',
         ("urn:e", "a\\unchanged", "literal")),
        # 8-hex \U form (astral plane)
        ('<urn:f> <urn:p> "\\U0001F600" .',
         ("urn:f", "\U0001F600", "literal")),
    ]
    lines = spark.createDataFrame([(r[0],) for r in rows], "value string")
    got = {
        r.subj: (r.subj, r.obj_value, r.obj_kind)
        for r in parse_ntriples(lines).collect()
    }
    assert len(got) == len(rows)
    for _, expect in rows:
        assert got[expect[0]] == expect
    # a malformed line carrying \x01 still lands in the malformed bucket
    bad = spark.createDataFrame([("not a triple \x01 at all",)], "value string")
    kept = parse_ntriples(bad, keep_malformed=True).collect()
    assert len(kept) == 1 and kept[0].obj_kind is None
    assert kept[0].obj_value == "not a triple \x01 at all"


def test_gzip_source_transparent(spark, tmp_path):
    p = tmp_path / "doc.nt.gz"
    with gzip.open(p, "wt") as f:
        f.write('<urn:a> <urn:p> "x" .\n<urn:b> <urn:p> <urn:c> .\n')
    df = read_rdf_source(spark, str(p))
    parsed = parse_ntriples(df)
    assert parsed.count() == 2
    assert {r.subj for r in parsed.collect()} == {"urn:a", "urn:b"}


def test_pre_process_fixes(spark):
    lines = spark.createDataFrame(
        [("﻿<urn:a b c> <urn:p> \x01\"v\" .",)], "value string"
    )
    fixed = lines.select(pre_process(F.col("value")).alias("value"))
    got = fixed.collect()[0].value
    assert got == '<urn:a%20b%20c> <urn:p> "v" .'


def test_materialize_folds_fanout_single_checkpoint(spark):
    """A normalizer's NARROW output (the re-assembly inherits the document
    partitioning) is repartitioned to the session parallelism inside its
    one local checkpoint, so the parse fan-out guard no-ops on it instead
    of writing the line stream to block storage a second time."""
    from bop_consus_importing_rdf_spark.operators.parallelism import (
        ensure_min_parallelism,
    )
    from bop_consus_importing_rdf_spark.sources.turtle_io import (
        normalize_trig_docs,
        normalize_turtle_docs,
    )

    target = spark.sparkContext.defaultParallelism
    for normalize, doc in (
        (normalize_turtle_docs, "<urn:a> <urn:p> <urn:b> ."),
        (normalize_trig_docs, "<urn:g> { <urn:a> <urn:p> <urn:b> . }"),
    ):
        narrow = spark.createDataFrame([(doc,)], "d string").coalesce(1)
        lines = normalize(narrow, "d")
        # one checkpoint: the plan is the checkpoint's RDD scan alone
        assert lines._jdf.queryExecution().analyzed().nodeName() == (
            "LogicalRDD"
        )
        assert lines.rdd.getNumPartitions() >= target
        assert ensure_min_parallelism(lines, multiplier=8.0) is lines
        assert lines.select("value").first().value == (
            "<urn:a> <urn:p> <urn:b> ."
        )


def test_base_filter_stays_above_upstream_repartition(spark):
    """The split-union base filter is one nondeterministic conjunct, so
    predicate pushdown leaves all of it above an upstream repartition,
    reading the produced line. Left as separate conjuncts, the blank and
    comment tests were pushed under the exchange with the render's whole
    line expression substituted into them."""
    src, lines = _render(spark)
    out = parse_ntriples(lines.repartition(8))
    assert sorted(out.collect()) == sorted(src.collect())
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    cuts = [m.start() for m in re.finditer(r"Repartition 8", plan)]
    assert len(cuts) == 2, plan  # one per parse branch
    for i in cuts:
        above = plan[:i].splitlines()[-2]
        assert "SPARK_PARTITION_ID() >= 0" in above and "trim(value" in above
        # the subtree under the exchange: the render projection down to
        # the fixture's scan
        assert "Filter" not in plan[i:plan.index("LogicalRDD", i)], plan


def test_clean_branch_runs_the_packed_regex_in_one_operator(spark, tmp_path):
    """The N-Triples clean branch projects the packed split into an
    attribute and drops malformed lines on that attribute, so with
    ``keep_malformed=False`` the executed plan evaluates the packed
    pattern in ONE operator — not once in the malformed-drop filter and
    again in the projection above it."""
    path = tmp_path / "dump.nt"
    path.write_text(
        "\n".join([
            "<urn:s> <urn:p> <urn:o> .",
            '<urn:s> <urn:p> "x"@en .',
            '<urn:s> <urn:p> "caf\\u00e9" .',  # assist branch
            "# comment",
            "junk",
        ]) + "\n",
        encoding="utf-8",
    )
    rows, nodes = executed_plan_nodes(
        spark,
        lambda: parse_ntriples(spark.read.text(str(path))).collect(),
    )
    assert sorted(r.obj_value for r in rows) == ["café", "urn:o", "x"]
    packed = re.compile(
        r"regexp_replace\(\w+#\d+, " + re.escape(_NT_PACKED_PATTERN)
    )
    carriers = [n for n, d in nodes if packed.search(d)]
    assert carriers == ["Project"], carriers


def test_every_document_syntax_enforces_the_size_bound(spark, monkeypatch):
    """One document past ``MAX_DOC_BYTES`` raises the driver's guard in
    each whole-document syntax — under ``keep_malformed`` too, where it
    would otherwise become a reject row."""
    from bop_consus_importing_rdf_spark.functions.rdfxml import parse_rdfxml
    from bop_consus_importing_rdf_spark.sources import rdf_io
    from bop_consus_importing_rdf_spark.sources.jsonld_io import (
        parse_jsonld_docs,
    )
    from bop_consus_importing_rdf_spark.sources.turtle_io import (
        normalize_trig_docs,
        normalize_turtle_docs,
    )

    monkeypatch.setattr(rdf_io, "MAX_DOC_BYTES", 16)
    ttl = "<urn:a> <urn:p> <urn:b> ."
    cases = [
        (lambda d: normalize_turtle_docs(d, "d"), ttl),
        (lambda d: normalize_trig_docs(d, "d"), f"<urn:g> {{ {ttl} }}"),
        (lambda d: parse_jsonld_docs(d, "d", keep_malformed=True),
         '{"@id": "urn:a", "urn:p": "a long enough value"}'),
        (lambda d: parse_rdfxml(d, "d", keep_malformed=True),
         '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
         "/>"),
    ]
    for parse, doc in cases:
        docs = spark.createDataFrame([(doc,)], "d string")
        with pytest.raises(Exception, match=(
            rf"ValueError: document of {len(doc)} chars exceeds the "
            "16-byte single-document limit"
        )):
            parse(docs).collect()
