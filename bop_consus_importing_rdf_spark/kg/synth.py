"""Deterministic synthetic transcript corpus + entity-alias gazetteer.

Per FIXTURES.md §1/§3. Generation is FULLY DISTRIBUTED — ``spark.range`` +
hash-based pseudo-randomness (``xxhash64``), zero driver-side loops and zero
RNG state — so the same code generates the 100-turn unit fixture and a
10^12-turn bench corpus, identically and reproducibly, partition-parallel.

Skew is built in (1% of conversations get ~50× the median turn count) so the
salting / AQE-skew paths are actually exercised.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..vocab import KG_NS

# epoch seconds of 2026-01-01T00:00:00Z (FIXTURES.md: derived, no wall-clock)
_EPOCH0 = 1767225600

# a literal that needs every N-Triples ECHAR + non-ASCII
ESCAPE_TAIL = ' see "naïve\\path"\n\tend'


# distinct name stems — realistic surface diversity so blocking similarity
# separates near-dup pairs from unrelated entities
ORG_STEMS = [
    "Acme", "Globex", "Initech", "Umbrella", "Hooli", "Vandelay", "Wayne",
    "Stark", "Wonka", "Tyrell", "Cyberdyne", "Weyland", "Aperture",
    "BlackMesa", "Oscorp", "Massive", "Soylent", "Gringotts", "Monarch",
    "Duff", "Sirius", "Octan", "Zorg", "Nakatomi",
]
PROD_STEMS = [
    "Falcon", "Osprey", "Kestrel", "Harrier", "Condor", "Merlin",
    "Peregrine", "Goshawk", "Sparrow", "Kite", "Raven", "Heron", "Egret",
    "Ibis", "Stork", "Crane", "Pelican", "Gannet", "Puffin", "Tern",
    "Skua", "Fulmar", "Petrel", "Shearwater",
]


def alias_rows() -> list[tuple[str, str, float]]:
    """The gazetteer rows as a plain deterministic literal list — shared by
    the Spark fixture table AND the DuckDB oracle (rendered as VALUES)."""
    rows: list[tuple[str, str, float]] = []
    for i, st in enumerate(ORG_STEMS):
        if i % 2 == 0:
            # near-dup pair: same real-world org, two minted URIs
            rows.append((f"{st} Corp", f"{KG_NS}ent:org{i}a", 0.9))
            rows.append((st, f"{KG_NS}ent:org{i}a", 0.6))
            rows.append((f"{st} Corporation", f"{KG_NS}ent:org{i}b", 0.8))
        else:
            rows.append((f"{st} Corp", f"{KG_NS}ent:org{i}", 0.9))
            rows.append((st, f"{KG_NS}ent:org{i}", 0.6))
    for i, st in enumerate(PROD_STEMS):
        rows.append((st, f"{KG_NS}ent:prod{i}", 0.9))
        rows.append((f"The {st}", f"{KG_NS}ent:prod{i}", 0.7))
    # ambiguous alias: one surface form, two genuinely different entities
    # (must NOT be merged by canonicalization — jaccard ≈ 0.47 < threshold)
    rows.append(("Mercury", f"{KG_NS}ent:org_mercury", 0.7))
    rows.append(("Mercury Holdings", f"{KG_NS}ent:org_mercury", 0.8))
    rows.append(("Mercury", f"{KG_NS}ent:prod_mercury", 0.3))
    rows.append(("Mercury X1", f"{KG_NS}ent:prod_mercury", 0.8))
    return rows


def alias_table(spark: SparkSession) -> DataFrame:
    """The small broadcast gazetteer (FIXTURES.md §3): ~120 rows.

    Includes alias collisions (``Mercury`` → two entities with different
    priors) and near-duplicate entity pairs (``X Corp`` vs ``X Corporation``
    minted as distinct URIs on even index) that MinHash+CC must merge during
    canonicalization.

    An inline ``VALUES`` table, i.e. a local relation: a ``take`` or
    ``collect`` of it runs on the driver without a Spark job, where a
    ``createDataFrame(list)`` frame is a Python RDD whose every read starts
    Python workers.
    """
    values = ", ".join(
        f"({_sql_string(a)}, {_sql_string(e)}, CAST({p!r} AS DOUBLE))"
        for a, e, p in alias_rows()
    )
    return spark.sql(
        f"SELECT * FROM VALUES {values} AS t(alias, entity_uri, prior)"
    )


def _sql_string(s: str) -> str:
    """Spark SQL string literal (backslash escapes, the parser default)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def e2e_transcript_rows(
    n_conv: int = 40, seed: int = 7
) -> list[tuple[str, int, str, str, str | None, int]]:
    """Deterministic PYTHON-literal transcript corpus for the end-to-end
    oracle: the same list feeds ``spark.createDataFrame`` AND renders as a
    DuckDB ``VALUES`` clause, so the full pipeline (stable ordering →
    extraction → linking → canonicalization → emission → dedup) is
    byte-checkable. The xxhash-based :func:`synth_transcripts` stays the
    bench/scale corpus — its hashes are not reproducible in SQL.

    Includes the pipeline's hard cases: a hot conversation, ~5%
    double-delivered (conv_id, turn_idx) rows the stable-order window must
    drop deterministically, no-mention turns, and ESCAPE_TAIL literals.

    Returns ``(conv_id, turn_idx, role, text, tool, epoch_seconds)``.
    """
    import random

    rng = random.Random(seed)
    aliases = sorted({a for a, _, _ in alias_rows()})
    roles = ("user", "assistant", "tool")
    rows: list[tuple[str, int, str, str, str | None, int]] = []
    for c in range(n_conv):
        conv = f"conv-{c:04d}"
        n_turns = 60 if c == 0 else rng.randint(4, 12)
        for t in range(n_turns):
            a = aliases[rng.randrange(len(aliases))]
            b = aliases[rng.randrange(len(aliases))]
            year = 1995 + rng.randrange(30)
            if rng.random() < 0.2:
                text = f"nothing to report in {year}"
            else:
                text = f"{a} released {b} in {year}"
            if rng.random() < 0.1:
                text += ESCAPE_TAIL
            ts = _EPOCH0 + c * 3600 + t * 30
            rows.append((conv, t, roles[t % 3], text, None, ts))
            if rng.random() < 0.05:  # double delivery, later ts → dropped
                rows.append((conv, t, "user", text + " redelivered", None, ts + 5))
    return rows


def _h(*cols, salt: str) -> F.Column:
    """Deterministic non-negative 'random' long from the key columns."""
    return F.abs(F.xxhash64(F.lit(salt), *cols))


def synth_transcripts(
    spark: SparkSession,
    n_conv: int = 200,
    seed: int = 42,
    shuffled: bool = True,
) -> DataFrame:
    """Generate the transcripts table (conv_id, turn_idx, role, text, tool, ts).

    ``shuffled=True`` scrambles physical row order (FIXTURES.md: the
    stable-ordering window must be exercised, not handed sorted input).
    """
    subjects = alias_table(spark)
    aliases = [r.alias for r in subjects.select("alias").distinct().collect()]
    aliases.sort()
    alias_arr = F.array(*[F.lit(a) for a in aliases])
    n_alias = len(aliases)

    conv = (
        spark.range(n_conv)
        .withColumn("conv_id", F.format_string("conv-%06d", F.col("id")))
        # 1% hot conversations with ~50× median turns (median base ≈ 8)
        .withColumn(
            "n_turns",
            F.when(F.col("id") % 100 == 0, F.lit(400)).otherwise(
                (_h(F.col("id"), salt=f"nt{seed}") % 9 + 4).cast("int")
            ),
        )
    )
    turns = conv.select(
        "id",
        "conv_id",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )

    h1 = _h(F.col("conv_id"), F.col("turn_idx"), salt=f"a{seed}")
    h2 = _h(F.col("conv_id"), F.col("turn_idx"), salt=f"b{seed}")
    h3 = _h(F.col("conv_id"), F.col("turn_idx"), salt=f"c{seed}")
    alias_a = F.element_at(alias_arr, (h1 % n_alias + 1).cast("int"))
    alias_b = F.element_at(alias_arr, (h2 % n_alias + 1).cast("int"))
    year = (h3 % 30 + 1995).cast("string")

    base_text = F.concat(
        alias_a, F.lit(" released "), alias_b, F.lit(" in "), year
    )
    no_mention = F.concat(F.lit("nothing to report in "), year)
    text = F.when(h3 % 5 == 0, no_mention).otherwise(base_text)
    # ~10% of turns get a literal that needs full N-Triples escaping
    text = F.when(h2 % 10 == 0, F.concat(text, F.lit(ESCAPE_TAIL))).otherwise(text)

    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
        (F.col("turn_idx") % 3 + 1).cast("int"),
    )
    tool = F.when(
        role == "tool",
        F.element_at(
            F.array(*[F.lit(t) for t in ("search", "code", "browse", "calc")]),
            (h1 % 4 + 1).cast("int"),
        ),
    )
    ts = F.timestamp_seconds(
        F.lit(_EPOCH0) + F.col("id") * 3600 + F.col("turn_idx") * 30
    )

    out = turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )
    if shuffled:
        out = out.repartition(
            max(spark.sparkContext.defaultParallelism, 4),
            _h(F.col("conv_id"), F.col("turn_idx"), salt=f"shuf{seed}"),
        )
    return out
