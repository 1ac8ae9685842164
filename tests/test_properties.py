"""Property tests (SURVEY.md §5.4): partition invariance, escaping
round-trips under hypothesis-generated inputs."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bop_consus_importing_rdf_spark.operators.split import split_datasets
from bop_consus_importing_rdf_spark.sources.rdf_io import _parse_one, _unescape

from .test_split import fixture_triples  # noqa: F401 (fixture reuse)

KEY = ["dataset_id", "subj", "pred", "obj_value", "obj_kind"]


@pytest.mark.parametrize("k", [1, 7, 32])
def test_split_invariant_under_partitioning(spark, fixture_triples, k):  # noqa: F811
    base_triples, base_ds = split_datasets(fixture_triples)
    re_triples, re_ds = split_datasets(fixture_triples.repartition(k))
    assert (
        base_triples.select(KEY).exceptAll(re_triples.select(KEY)).count() == 0
    )
    assert (
        re_triples.select(KEY).exceptAll(base_triples.select(KEY)).count() == 0
    )
    assert sorted(r.identifier for r in base_ds.collect()) == sorted(
        r.identifier for r in re_ds.collect()
    )


# pure-Python round-trip of the renderer's escaping against the parser's
# unescaping — mirrors functions/ntriples.py `_ESCAPES` exactly
def _escape(s: str) -> str:
    for raw, esc in [("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                     ("\r", "\\r"), ("\t", "\\t")]:
        s = s.replace(raw, esc)
    return s


@given(st.text(max_size=200))
@settings(max_examples=300, suppress_health_check=[HealthCheck.too_slow], deadline=None)
def test_escape_unescape_roundtrip(s):
    assert _unescape(_escape(s)) == s


@given(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=100
    )
)
@settings(max_examples=200, deadline=None)
def test_nt_line_parses_back(s):
    line = f'<urn:s> <urn:p> "{_escape(s)}" .'
    subj, pred, obj, kind, lang, dt = _parse_one(line)
    assert (subj, pred, kind) == ("urn:s", "urn:p", "literal")
    assert obj == s


# ---------------------------------------------------------------------------
# Turtle statement re-assembly (round 4): hypothesis over grouped documents
# ---------------------------------------------------------------------------

def _ttl_escape_short(s: str) -> str:
    for raw, esc in [("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                     ("\r", "\\r"), ("\t", "\\t")]:
        s = s.replace(raw, esc)
    return s


def _ttl_escape_long(s: str) -> str:
    # long-string form: backslash and double quote escaped, newlines raw
    return s.replace("\\", "\\\\").replace('"', '\\"')


@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=200, deadline=None)
def test_split_statements_roundtrip_property(lits):
    """A grouped multi-line document (`;` predicate list + `,` object list
    + triple-quoted strings for newline-carrying literals) re-assembles
    into statements that parse back to the original literal values."""
    from bop_consus_importing_rdf_spark.sources.turtle_io import (
        _parse_one_ttl,
        _split_statements,
    )

    objs = []
    for s in lits:
        if "\n" in s or "\r" in s:
            objs.append(f'"""{_ttl_escape_long(s)}"""')
        else:
            objs.append(f'"{_ttl_escape_short(s)}"')
    doc = (
        "<urn:s> <urn:p:list> "
        + " ,\n    ".join(objs)
        + " ;\n  <urn:p:last> <urn:o> .\n"
    )
    stmts = _split_statements(doc)
    parsed = [_parse_one_ttl(x, {}) for x in stmts]
    assert all(p[3] is not None for p in parsed), (stmts, parsed)
    got_lits = [p[2] for p in parsed if p[1] == "urn:p:list"]
    assert got_lits == lits
    assert parsed[-1][:3] == ("urn:s", "urn:p:last", "urn:o")


@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=200, deadline=None)
def test_split_statements_bnode_collection_property(lits):
    """Adversarial literals (brackets, parens, dots, quotes, newlines)
    INSIDE a bnode property list and a collection: re-assembly emits a
    well-formed statement set whose structure walks back to the original
    values — the tokenizer must never let literal content drive bracket
    depth or statement splitting."""
    from bop_consus_importing_rdf_spark.sources.turtle_io import (
        _parse_one_ttl,
        _split_statements,
    )

    def lit(s: str) -> str:
        if "\n" in s or "\r" in s:
            return f'"""{_ttl_escape_long(s)}"""'
        return f'"{_ttl_escape_short(s)}"'

    head, rest = lits[0], lits[1:]
    doc = (
        "<urn:s> <urn:p:dist> [ <urn:p:inner> " + lit(head)
        + " ; <urn:p:more> ( " + " ".join(lit(s) for s in rest) + " ) ] .\n"
    )
    parsed = [_parse_one_ttl(x, {}) for x in _split_statements(doc)]
    assert all(p[3] is not None for p in parsed), parsed
    by_sp = {(p[0], p[1]): p[2] for p in parsed}
    bnode = by_sp[("urn:s", "urn:p:dist")]
    assert bnode.startswith("_:tgen-")
    assert by_sp[(bnode, "urn:p:inner")] == head
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    # walk the first/rest chain; empty collection is rdf:nil directly
    node, got = by_sp[(bnode, "urn:p:more")], []
    while node != rdf + "nil":
        got.append(by_sp[(node, rdf + "first")])
        node = by_sp[(node, rdf + "rest")]
    assert got == rest


# ---------------------------------------------------------------------------
# Line parsers: malformed lines are counted as rejects, never dropped
# ---------------------------------------------------------------------------

#: literal characters that exercise both split-union branches: the raw
#: sentinel bytes and a backslash before ``u`` route to the exact parser
_LIT_CHARS = ["a", "u", " ", ".", "é", '"', "\\", "\n", "\x01", "\x02"]


def _nt_literal(s: str, use_u: bool) -> str:
    out = _escape(s)
    if use_u:  # non-ASCII as \uXXXX escapes
        out = "".join(f"\\u{ord(c):04x}" if ord(c) > 127 else c for c in out)
    return out


def _json_literal(s: str, use_u: bool) -> str:
    out = []
    for c in s:
        if c in '"\\':
            out.append("\\" + c)
        elif c == "\n":
            out.append("\\n")
        elif ord(c) < 0x20 or (use_u and ord(c) > 127):
            out.append(f"\\u{ord(c):04x}")
        else:
            out.append(c)
    return "".join(out)


def _nt_lines(i, s, use_u):
    good = f'<urn:s:{i}> <urn:p> "{_nt_literal(s, use_u)}" .'
    return good, good[:-2]  # malformed: no terminating dot


def _jsonld_lines(i, s, use_u):
    good = (
        f'{{"@id":"urn:s:{i}","urn:p":[{{"@value":"'
        f'{_json_literal(s, use_u)}"}}]}}'
    )
    # malformed: raw (unescaped) literal, no closing brace
    bad = f'{{"@id":"urn:s:{i}","urn:p":[{{"@value":"{s}"}}]'
    return good, bad


_ENTRY = st.tuples(
    st.lists(st.sampled_from(_LIT_CHARS), max_size=8).map("".join),
    st.booleans(),  # \u-escape the non-ASCII characters
    st.booleans(),  # inject the malformed variant instead
)
#: every example carries a sentinel-byte line, a \u line and a malformed
#: line besides the generated ones
_FIXED = [("a\x01b\x02", False, False), ("é", True, False), ("x", False, True)]


@settings(max_examples=6, deadline=None, derandomize=True)
@given(entries=st.lists(_ENTRY, max_size=6))
def test_line_parsers_count_malformed_never_drop(spark, entries):
    """For N-Triples, Turtle, TriG and JSON-LD lines mixing valid,
    malformed, sentinel-byte and ``\\u`` lines: with ``keep_malformed``
    the ``obj_kind`` NULL rows are exactly the injected malformed lines
    (raw text in ``obj_value``) and every valid line yields its
    statement; without it the output is exactly the non-NULL rows."""
    from bop_consus_importing_rdf_spark.sources.jsonld_io import parse_jsonld
    from bop_consus_importing_rdf_spark.sources.rdf_io import parse_ntriples
    from bop_consus_importing_rdf_spark.sources.turtle_io import (
        parse_trig,
        parse_turtle,
    )

    def line_frame(lines):
        return spark.createDataFrame([(x,) for x in lines], "value string")

    def trig_frame(lines):
        doc = "<urn:g> {\n" + "\n".join(lines) + "\n}\n"
        return spark.createDataFrame([(doc,)], "trig string")

    parsers = [
        ("ntriples", _nt_lines, line_frame,
         lambda df, km: parse_ntriples(df, keep_malformed=km)),
        ("turtle", _nt_lines, line_frame,
         lambda df, km: parse_turtle(df, prefixes={}, keep_malformed=km)),
        ("trig", _nt_lines, trig_frame,
         lambda df, km: parse_trig(df, prefixes={}, keep_malformed=km)),
        ("jsonld", _jsonld_lines, line_frame,
         lambda df, km: parse_jsonld(df, keep_malformed=km)),
    ]
    cols = ["subj", "pred", "obj_value", "obj_kind", "obj_lang",
            "obj_datatype"]
    for name, render, frame, parse in parsers:
        lines, bad, valid = [], [], set()
        for i, (s, use_u, broken) in enumerate(_FIXED + entries):
            good, malformed = render(i, s, use_u)
            lines.append(malformed if broken else good)
            if broken:
                bad.append(malformed)
            else:
                valid.add(f"urn:s:{i}")
        df = frame(lines)
        kept = [tuple(r) for r in parse(df, True).select(cols).collect()]
        rejects = sorted(r[2] for r in kept if r[3] is None)
        assert rejects == sorted(bad), name
        ok = sorted(r for r in kept if r[3] is not None)
        assert sorted(r[0] for r in ok) == sorted(valid), name
        dropped = [tuple(r) for r in parse(df, False).select(cols).collect()]
        assert sorted(dropped) == ok, name
