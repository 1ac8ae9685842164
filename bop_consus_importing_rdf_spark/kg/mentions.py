"""Batched mention detection over transcript text (north-rule stage).

Replaces the reference's RDF parse stage (``JenaUtils.read``, reference
``Flows.kt:66-77``) as the "unstructured bytes → graph statements" boundary:
here the unstructured input is conversation text and the parser is a
gazetteer matcher.

The extraction is **pure JVM column expressions**, applied as a DataFrame
transform (:func:`mention_relation_extractor`): ``regexp_extract_all``
over a trie-factored alias pattern for mentions, one packed
``regexp_replace`` pass for the three template groups and an
``array_contains`` membership test for the relation. Stacked projections
compute each intermediate once, so every regex runs once per turn.
Whole-stage codegen, zero Python workers, no Arrow round-trip on the
corpus hot path. The pattern gets the ``(?U)`` inline flag so Java's
``\\b`` uses unicode word classes — matching Python ``re`` semantics
exactly. :func:`extract_mentions_and_relations_arrow` below is a
pandas-UDF twin kept only as the reference ``test_mentions_jvm`` compares
the JVM extraction against, row for row; no production path runs it.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_JAVA_META = set("\\^$.|?*+()[]{}")


def _java_escape(s: str) -> str:
    return "".join("\\" + c if c in _JAVA_META else c for c in s)


def _trie_body(words: list[str]) -> str:
    """Trie-factored regex body for a set of literal words.

    A flat 100-way alternation makes Java's backtracking engine try every
    branch at every position; trie factoring shares common prefixes so each
    position dies after ~one character comparison (the Regexp::Assemble
    trick). Greedy optional continuations — ``Acme(?:\\ Corporation)?`` —
    try the longer continuation FIRST, so longest-match-wins semantics are
    preserved structurally instead of by alternation order.
    """
    trie: dict = {}
    for w in words:
        node = trie
        for ch in w:
            node = node.setdefault(ch, {})
        node["\0"] = {}  # terminal marker

    def emit(node: dict) -> str:
        branches = sorted(k for k in node if k != "\0")
        alts = [_java_escape(k) + emit(node[k]) for k in branches]
        if not alts:
            return ""
        body = alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")"
        if "\0" in node:  # word may END here — continuation stays optional
            body = "(?:" + body + ")?"
        return body

    return emit(trie)


def alias_pattern(aliases: list[str] | tuple[str, ...]) -> str:
    """Gazetteer match pattern: trie-factored, longest-match, unicode word
    boundaries — identical match semantics in Python ``re`` and Java regex
    (the equivalence test compares this against the flat longest-first
    alternation the Arrow reference uses)."""
    return r"(?U)\b(" + _trie_body(sorted(aliases)) + r")\b"


# `[^\n]`, never `.`: the dot differs per regex engine (Java also
# excludes \r, \u0085, \u2028, \u2029 as line terminators; Python and
# RE2 exclude only \n), so a template spelled with `.` silently breaks
# the row-exact JVM/Arrow/oracle equivalence on text carrying those
# characters. An explicit class has one meaning everywhere.
_RELATION_TMPL = r"^([^\n]*?) released ([^\n]*?) in (\d{4})"

# Unicode White_Space=yes, spelled as an explicit char class so BOTH engines
# strip the exact same set (Java's bare \s is ASCII-only, Python's str.strip()
# additionally eats \x1c-\x1f — relying on either flag semantics leaves a
# divergence window on adversarial padding; an explicit class leaves none).
_WS_CLASS = (
    "\\x09-\\x0D\\x20\\x85\\xA0\\u1680\\u2000-\\u200A"
    "\\u2028\\u2029\\u202F\\u205F\\u3000"
)


def detect_mentions(text: Column, aliases: list[str]) -> Column:
    """``array<string>`` of gazetteer aliases found in each text, in order.

    Pure ``regexp_extract_all`` — JVM-side, codegen'd."""
    filled = F.coalesce(text, F.lit(""))
    return F.regexp_extract_all(filled, F.lit(alias_pattern(aliases)), 1)


_SEP = "\x01"
_REL_FIELDS = ("subj_alias", "obj_alias", "year")
_GROUPS = ("_g1", "_g2", "_g3")


def _strip(c: Column) -> Column:
    # explicit Unicode-whitespace class — identical set in both engines
    return F.regexp_replace(c, f"^[{_WS_CLASS}]+|[{_WS_CLASS}]+$", "")


def _template_groups(df: DataFrame) -> DataFrame:
    """Stages 1–2 of the staged extraction over ``df.text``: adds the
    template groups as ``_g1``/``_g2`` (whitespace-stripped) and ``_g3``,
    ``""`` where the template does not match."""
    filled = F.coalesce(F.col("text"), F.lit(""))
    # Stage 1, one regex pass for all three groups (the same packing trick
    # as the N-Triples parser): swallow the tail with (?s:.*) so the
    # replacement is exactly the packed groups; a non-matching text passes
    # through unchanged and splits into a single part. Three independent
    # regexp_extract calls measured ~35% slower per core on the 7M-turn
    # scaling corpus — per-row regex passes are the whole cost out here.
    packed = F.regexp_replace(
        filled, _RELATION_TMPL + r"(?s:.*)$", f"$1{_SEP}$2{_SEP}$3"
    )
    staged = df.withColumns(
        {
            "_parts": F.split(packed, _SEP),
            "_tmpl": filled.rlike(_RELATION_TMPL),
        }
    )
    # Stage 2 reads _parts and _tmpl three times each, so CollapseProject
    # cannot inline stage 1 into it (it only inlines a non-trivial
    # expression read once). The rlike is a real match test, not
    # split-arity inference: adversarial text carrying raw \x01 bytes would
    # otherwise fabricate a 3-way split without the template ever
    # matching. rlike + arity together are sound: when the anchored template
    # DID match, arity==3 additionally proves the captured groups themselves
    # are \x01-free, so parts[i] == group i exactly (text with \x01 inside a
    # group inflates the arity and is rejected here — and rejected by the
    # Arrow twin too, since a group containing \x01 can never be a gazetteer
    # alias).
    parts = F.col("_parts")
    matched = (F.size(parts) == 3) & F.col("_tmpl")

    def group(i: int) -> Column:
        # F.get, not parts[i]: ANSI-safe on arity≠3 rows
        g = F.get(parts, i)
        return F.when(matched, _strip(g) if i < 2 else g).otherwise(F.lit(""))

    return staged.withColumns(
        {name: group(i) for i, name in enumerate(_GROUPS)}
    ).drop("_parts", "_tmpl")


def _relation(ok: Column) -> Column:
    """``struct<subj_alias, obj_alias, year>`` of the groups where ``ok``,
    all-null fields elsewhere; ``ok`` is evaluated once per row."""
    return F.when(
        ok,
        F.struct(*[F.col(g).alias(f) for g, f in zip(_GROUPS, _REL_FIELDS)]),
    ).otherwise(
        F.struct(*[F.lit(None).cast("string").alias(f) for f in _REL_FIELDS])
    )


def _year_ok() -> Column:
    # belt-and-braces year invariant over the third group
    return F.col("_g3").rlike(r"^\d{4}$")


def with_relation_candidates(df: DataFrame) -> DataFrame:
    """Template group extraction WITHOUT the gazetteer-membership gate:
    adds ``_relc struct<subj_alias, obj_alias, year>`` over ``df.text``,
    nulls when the text does not instantiate the ``<A> released <B> in
    <year>`` template (year checked; A/B are raw stripped groups). The
    join-based at-scale matcher (``kg/matcher.py``) validates membership
    with a join against the alias table — same split as mention detection.
    Staged like :func:`mention_relation_extractor`."""
    return (
        _template_groups(df)
        .withColumn("_relc", _relation(_year_ok()))
        .drop(*_GROUPS)
    )


def mention_relation_extractor(
    aliases: list[str],
) -> Callable[[DataFrame], DataFrame]:
    """Fused extractor for one gazetteer: a DataFrame transform adding
    ``_mr struct<mentions: array<string>, rel: struct<subj_alias,
    obj_alias, year>>`` over ``df.text``. ``rel`` holds the
    ``<A> released <B> in <year>`` groups when A and B are gazetteer
    aliases, nulls otherwise.

    The gazetteer literals are built here, once, as ``Column``s; applying
    the returned transform to another frame costs no Py4J literal calls.
    Pure column expressions in stacked projections: the packed template
    pass, its ``rlike`` and the trie-factored ``regexp_extract_all``; the
    stripped groups; the year check and an ``array_contains`` over a
    constant-folded literal array. Each stage reads the one before it
    several times, so Catalyst's ``CollapseProject`` keeps them apart and
    every regex runs once per row (inlined into one projection, the plan
    held 59 ``regexp_replace`` calls). Whole-stage codegen, zero Python
    workers; row-exact against the Arrow reference
    (``test_mentions_jvm``).
    """
    pattern = F.lit(alias_pattern(aliases))
    members = F.array(*[F.lit(a) for a in sorted(aliases)])

    def extract(df: DataFrame) -> DataFrame:
        mentions = F.regexp_extract_all(
            F.coalesce(F.col("text"), F.lit("")), pattern, 1
        )
        # stage 3 reads each group twice (this test and the struct), so it
        # stays a projection of its own over stage 2
        ok = (
            _year_ok()
            & F.array_contains(members, F.col("_g1"))
            & F.array_contains(members, F.col("_g2"))
        )
        # the mention pass merges into stage 1 (read once there)
        return (
            _template_groups(df.withColumn("_mentions", mentions))
            .withColumn(
                "_mr",
                F.struct(
                    F.col("_mentions").alias("mentions"),
                    _relation(ok).alias("rel"),
                ),
            )
            .drop("_mentions", *_GROUPS)
        )

    return extract


# ---------------------------------------------------------------------------
# Arrow reference implementation (kept only for the JVM-vs-Python
# equivalence tests)
# ---------------------------------------------------------------------------

@lru_cache(maxsize=8)
def _compiled(aliases: tuple[str, ...]) -> re.Pattern:
    parts = sorted(aliases, key=len, reverse=True)
    return re.compile(
        r"\b(" + "|".join(re.escape(a) for a in parts) + r")\b"
    )


def extract_mentions_and_relations_arrow(
    text: Column, aliases: list[str]
) -> Column:
    """Arrow-batched reference implementation of
    :func:`mention_relation_extractor`, used only by the equivalence tests
    in ``test_mentions_jvm``."""
    alias_key = tuple(sorted(aliases))
    out_type = T.StructType(
        [
            T.StructField("mentions", T.ArrayType(T.StringType())),
            T.StructField(
                "rel",
                T.StructType(
                    [
                        T.StructField("subj_alias", T.StringType()),
                        T.StructField("obj_alias", T.StringType()),
                        T.StructField("year", T.StringType()),
                    ]
                ),
            ),
        ]
    )

    @F.pandas_udf(out_type)
    def _both(s: pd.Series) -> pd.DataFrame:
        pat = _compiled(alias_key)
        filled = s.fillna("")
        mentions = filled.str.findall(pat)
        # re.ASCII: \d{4} must mean ASCII digits like Java's default \d —
        # Python's Unicode \d would accept e.g. Arabic-Indic year digits the
        # JVM engine rejects, breaking the row-exact equivalence contract
        ext = filled.str.extract(re.compile(_RELATION_TMPL, re.ASCII))
        ext.columns = ["subj_alias", "obj_alias", "year"]
        valid = set(alias_key)
        ws_strip = re.compile(f"^[{_WS_CLASS}]+|[{_WS_CLASS}]+$")
        for c in ("subj_alias", "obj_alias"):
            col = ext[c].str.replace(ws_strip, "", regex=True)
            ext[c] = col.where(col.isin(valid))
        bad = ext["subj_alias"].isna() | ext["obj_alias"].isna()
        ext.loc[bad, ["subj_alias", "obj_alias", "year"]] = None
        return pd.DataFrame(
            {"mentions": mentions, "rel": ext.to_dict("records")}
        )

    return _both(text)
