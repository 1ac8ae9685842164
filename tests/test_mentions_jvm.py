"""JVM column-expression extraction == Arrow reference, row for row."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bop_consus_importing_rdf_spark.kg.mentions import (
    extract_mentions_and_relations_arrow,
    mention_relation_extractor,
    with_relation_candidates,
)
from bop_consus_importing_rdf_spark.kg.synth import (
    alias_rows,
    alias_table,
    synth_transcripts,
)


def _diverging(both):
    """Rows where the ``jvm`` and ``ref`` extractions differ."""
    return both.filter(
        (F.col("jvm.mentions") != F.col("ref.mentions"))
        | ~(
            F.col("jvm.rel.subj_alias").eqNullSafe(F.col("ref.rel.subj_alias"))
            & F.col("jvm.rel.obj_alias").eqNullSafe(F.col("ref.rel.obj_alias"))
            & F.col("jvm.rel.year").eqNullSafe(F.col("ref.rel.year"))
        )
    )


def test_jvm_extraction_matches_arrow_reference(spark):
    aliases = [r.alias for r in alias_table(spark).select("alias").distinct().collect()]
    t = synth_transcripts(spark, n_conv=60, seed=3)
    # adversarial extras: null text, empty, alias at string edges, template
    # with non-gazetteer slots, alias-prefix trap, unicode neighbours
    extra = spark.createDataFrame(
        [
            ("x", 0, "user", None, None, None),
            ("x", 1, "user", "", None, None),
            ("x", 2, "user", "Acme released Falcon in 1999", None, None),
            ("x", 3, "user", "NotAnOrg released Falcon in 1999", None, None),
            ("x", 4, "user", "Acme Corporation beats Acme", None, None),
            ("x", 5, "user", "naïveAcme is no mention but Acme is", None, None),
            ("x", 6, "user", "  Acme released The Falcon in 2001 \n\ttail", None, None),
            # raw \x01 bytes must not fabricate a relation (sentinel attack)
            ("x", 7, "user", "Acme\x01Org1 Corp\x01whatever", None, None),
            # \x01 in the swallowed tail of a REAL match is harmless
            ("x", 8, "user", "Acme released The Falcon in 2001 t\x01l", None, None),
            # \x01 inside a captured group → rejected by both engines
            ("x", 9, "user", "Acme released Org1\x01Corp in 2001", None, None),
            # Unicode-whitespace (NBSP) padding strips identically in both
            ("x", 10, "user", "Acme  released The Falcon in 2001", None, None),
            # non-ASCII year digits rejected by both (Java-\d semantics)
            ("x", 11, "user", "Acme released The Falcon in ٢٠٢٠", None, None),
            # line-terminator padding: Java's `.` excludes \r \u0085 \u2028
            # but the template is spelled [^\n] so BOTH engines match and
            # the WS-class strip removes the padding identically
            ("x", 12, "user", "\rAcme released The Falcon in 2001", None, None),
            ("x", 13, "user", "\u2028Acme released The Falcon in 2001", None, None),
            # a real newline before the template anchors ^ away -> no match
            # in either engine (non-multiline ^)
            ("x", 14, "user", "pad\nAcme released The Falcon in 2001", None, None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    rows = t.unionByName(extra)
    both = rows.transform(mention_relation_extractor(aliases)).select(
        "conv_id",
        "turn_idx",
        F.col("_mr").alias("jvm"),
        extract_mentions_and_relations_arrow(F.col("text"), aliases).alias("ref"),
    )
    bad = _diverging(both).select("conv_id", "turn_idx", "jvm", "ref").collect()
    assert not bad, f"JVM/Arrow divergence: {bad[:5]}"
    # sanity: the adversarial rows behave as intended
    got = {
        r.turn_idx: (r.jvm.mentions, r.jvm.rel.subj_alias)
        for r in both.filter(F.col("conv_id") == "x").collect()
    }
    assert got[0] == ([], None) and got[1] == ([], None)
    assert got[2][1] == "Acme"
    assert got[3][1] is None                      # non-gazetteer subject
    assert got[4][0][0] == "Acme Corporation"     # longest-first wins
    assert got[5][0] == ["Acme"]                  # unicode-glued prefix ignored
    assert got[6] == (["Acme", "The Falcon"], "Acme")  # strip + tail
    assert got[7][1] is None   # raw \x01 fabricates nothing
    assert got[8][1] == "Acme"  # \x01 in the swallowed tail is harmless
    assert got[9][1] is None   # \x01 inside a group → no relation
    assert got[10][1] == "Acme"  # NBSP padding stripped in both engines
    assert got[11][1] is None  # non-ASCII digits are not a year
    assert got[12][1] == "Acme"  # \r padding matches + strips in both
    assert got[13][1] == "Acme"  # U+2028 padding matches + strips in both
    assert got[14][1] is None  # newline re-anchors ^ → no match in either


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _template_turns(spark):
    # computed text, not a local relation the optimizer could fold away
    return spark.range(8).select(
        F.col("id").alias("turn_idx"),
        F.concat(
            F.lit(" Acme released The Falcon in "), (F.col("id") + 1990).cast("string")
        ).alias("text"),
    )


def test_staged_extraction_runs_each_regex_once(spark):
    """The staged JVM extraction keeps its intermediates in separate
    projections: the optimized plan holds the packed template pass and the
    two group strips, not one copy per reference (59 when inlined)."""
    aliases = sorted({a for a, _, _ in alias_rows()})
    out = _template_turns(spark).transform(mention_relation_extractor(aliases))
    plan = _optimized_plan(out)
    assert 1 <= plan.count("regexp_replace(") <= 3, plan
    assert plan.count("regexp_extract_all(") == 1, plan
    assert out.columns == ["turn_idx", "text", "_mr"]
    assert {r._mr.rel.year for r in out.collect()} == {
        str(y) for y in range(1990, 1998)
    }


def test_staged_relation_candidates_run_each_regex_once(spark):
    """Same plan shape for the at-scale matcher's ``_relc`` column."""
    out = with_relation_candidates(_template_turns(spark))
    plan = _optimized_plan(out)
    assert 1 <= plan.count("regexp_replace(") <= 3, plan
    assert out.columns == ["turn_idx", "text", "_relc"]
    got = {(r._relc.subj_alias, r._relc.obj_alias) for r in out.collect()}
    assert got == {("Acme", "The Falcon")}


# --- property test: staged JVM _mr == Arrow reference -----------------------

_ALIASES = sorted({a for a, _, _ in alias_rows()})
# Unicode whitespace the strip class covers, plus \x1c (stripped by Python's
# str.strip but in neither engine's class) and line terminators
_PAD = st.text(
    alphabet=[" ", "\xa0", "\u2009", "\u3000", "\r", "\t", "\x85", "\u2028", "\x1c"],
    max_size=3,
)
# ASCII, Arabic-Indic and fullwidth digits: only ASCII makes a year
_DIGITS = (
    "0123456789"
    "\u0660\u0661\u0662\u0663\u0664\u0665\u0666\u0667\u0668\u0669"
    "\uff10\uff11\uff19"
)
_NON_ALIASES = ["NotAnOrg", "acme", "Acme Corpora", "Falcon X", "", "released"]


@st.composite
def _template_text(draw):
    def slot():
        s = draw(
            st.one_of(
                st.sampled_from(_ALIASES),
                st.sampled_from(_NON_ALIASES),
                st.text(max_size=6),
            )
        )
        if draw(st.integers(0, 3)) == 0:  # inject the packing separator
            i = draw(st.integers(0, len(s)))
            s = s[:i] + "\x01" + s[i:]
        return draw(_PAD) + s + draw(_PAD)

    prefix = draw(st.sampled_from(["", "", "", "\n", "say: "]))
    subj = slot()
    objs = [slot() for _ in range(draw(st.integers(1, 2)))]  # repeated " released "
    year = draw(
        st.one_of(
            st.integers(1000, 9999).map(str),
            st.text(alphabet=_DIGITS, min_size=3, max_size=5),
        )
    )
    tail = draw(st.one_of(st.just(""), st.text(max_size=8)))
    return prefix + subj + " released " + " released ".join(objs) + " in " + year + tail


@settings(max_examples=15, deadline=None, derandomize=True)
@given(
    texts=st.lists(
        st.one_of(_template_text(), st.none(), st.text(max_size=20)),
        min_size=1,
        max_size=40,
    )
)
def test_staged_jvm_extraction_matches_arrow_property(spark, texts):
    rows = spark.createDataFrame(
        list(enumerate(texts)), "turn_idx int, text string"
    )
    both = rows.transform(mention_relation_extractor(_ALIASES)).select(
        "turn_idx",
        "text",
        F.col("_mr").alias("jvm"),
        extract_mentions_and_relations_arrow(F.col("text"), _ALIASES).alias("ref"),
    )
    bad = _diverging(both).collect()
    assert not bad, f"JVM/Arrow divergence: {bad[:3]}"
