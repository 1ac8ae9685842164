"""Join-based at-scale mention matcher (kg/matcher.py).

The contract: identical match output to the literal-regex matcher
(kg/mentions.py) — including longest-match-wins on overlapping aliases —
with the gazetteer never leaving the cluster as anything but a DataFrame.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bop_consus_importing_rdf_spark.kg.matcher import (
    alias_match_table,
    best_alias_entities,
    with_matched_mentions,
)
from bop_consus_importing_rdf_spark.kg.mentions import detect_mentions


@pytest.fixture(scope="module")
def gaz(spark):
    rows = [
        ("Acme", "urn:e:a", 0.6),
        ("Acme Corp", "urn:e:a", 0.9),
        ("Acme Corporation", "urn:e:b", 0.8),
        ("Mercury", "urn:e:m1", 0.7),
        ("Mercury", "urn:e:m2", 0.3),
        ("The Falcon", "urn:e:f", 0.7),
        ("Falcon", "urn:e:f", 0.9),
    ]
    return spark.createDataFrame(
        rows, "alias string, entity_uri string, prior double"
    )


TEXTS = [
    "Acme Corporation beats Acme Corp and Acme today",
    "the falcon is not The Falcon but Falcon is",
    "Mercury rises; Acme Corpse is not Acme Corp",  # boundary: Corpse
    "nothing relevant at all",
    "",
    None,
    "AcmeX and XAcme never match, Acme Corp has nbsp (no match)",
]


def test_join_matcher_equals_regex_matcher(spark, gaz):
    """Row-exact mention equivalence on overlap/boundary adversarial text."""
    alias_list = sorted({r.alias for r in gaz.select("alias").collect()})
    turns = spark.createDataFrame(
        [("c", i, t) for i, t in enumerate(TEXTS)],
        "conv_id string, turn_idx int, text string",
    )
    joined = with_matched_mentions(turns, alias_match_table(gaz)).select(
        "turn_idx",
        F.col("mentions").alias("via_join"),
        detect_mentions(F.col("text"), alias_list).alias("via_regex"),
    )
    rows = {r.turn_idx: (r.via_join, r.via_regex) for r in joined.collect()}
    assert len(rows) == len(TEXTS)
    for idx, (got, want) in sorted(rows.items()):
        assert got == want, f"turn {idx}: {got} != {want}"
    # sanity on the semantics themselves, not just agreement
    assert rows[0][0] == ["Acme Corporation", "Acme Corp", "Acme"]
    assert rows[1][0] == ["The Falcon", "Falcon"]
    # "Acme Corpse": \b rejects "Acme Corp" (word char follows) but the
    # scan backtracks to the shorter "Acme", exactly like the regex path
    assert rows[2][0] == ["Mercury", "Acme", "Acme Corp"]


def test_best_alias_entities_matches_driver_map(spark, gaz):
    from bop_consus_importing_rdf_spark.kg.pipeline import best_alias_map

    dist = {
        r.alias: r.entity_uri for r in best_alias_entities(gaz).collect()
    }
    assert dist == best_alias_map(gaz)
    assert dist["Mercury"] == "urn:e:m1"  # argmax prior
    assert dist["Falcon"] == "urn:e:f"


def test_alias_match_table_validation_raises(spark):
    bad = spark.createDataFrame(
        [("-leading-dash", "urn:e:x", 0.5)],
        "alias string, entity_uri string, prior double",
    )
    with pytest.raises(ValueError, match="word character"):
        alias_match_table(bad)
    ok = spark.createDataFrame(
        [("fine alias", "urn:e:x", 0.5)],
        "alias string, entity_uri string, prior double",
    )
    t = alias_match_table(ok)
    assert [(r.first_token, r.alias) for r in t.collect()] == [
        ("fine", "fine alias")
    ]


def test_best_alias_null_priors_lose_across_all_three_paths(spark):
    """r5 review: NULL priors must lose to every scored row, identically in
    the struct-min aggregate, the driver-collected map, and link_entities'
    window (prior DESC = nulls LAST in Spark). A bare min(struct(-prior,
    uri)) sorts NULL first ascending and silently flips the winner."""
    from bop_consus_importing_rdf_spark.kg.linking import link_entities
    from bop_consus_importing_rdf_spark.kg.pipeline import best_alias_map

    gaz = spark.createDataFrame(
        [
            ("m", "urn:e:scored", 0.4),
            ("m", "urn:e:null", None),   # must lose despite min URI sort
            ("only-null", "urn:e:n2", None),
            ("only-null", "urn:e:n1", None),  # ties break on min URI
        ],
        "alias string, entity_uri string, prior double",
    )
    via_agg = {
        r.alias: (r.entity_uri, r.score)
        for r in best_alias_entities(gaz, include_score=True).collect()
    }
    assert via_agg == {
        "m": ("urn:e:scored", 0.4),
        "only-null": ("urn:e:n1", None),
    }
    via_map = best_alias_map(gaz)
    assert via_map == {a: e for a, (e, _) in via_agg.items()}
    mentions = spark.createDataFrame(
        [("c", 0, 0, "m"), ("c", 0, 1, "only-null")],
        "conv_id string, turn_idx int, mention_pos int, alias string",
    )
    via_window = {
        r.alias: (r.entity_uri, r.score)
        for r in link_entities(mentions, gaz).collect()
    }
    assert via_window == via_agg
