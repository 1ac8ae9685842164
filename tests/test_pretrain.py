from __future__ import annotations

from pyspark.sql import functions as F

from bop_consus_importing_rdf_spark.operators.pretrain import (
    md5_bucket,
    pack_sequences,
    redact_pii,
    sample_stratified,
)
from bop_consus_importing_rdf_spark.operators.textstats import repetition_stats


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_redact_pii_all_categories(spark):
    df = _docs(
        spark,
        [
            (1, "mail bob.smith+x@ex-corp.co.uk now", "en", "s"),
            (2, "server at 192.168.0.1 and 10.0.0.255.", "en", "s"),
            (3, "call +1-555-0100-2345 or +49 030 123 4567", "en", "s"),
            (4, "clean text with no pii at all", "en", "s"),
        ],
    )
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert out[1]["redacted"] == "mail <EMAIL> now"
    assert (out[1]["n_emails"], out[1]["n_ips"], out[1]["n_phones"]) == (1, 0, 0)
    assert out[2]["redacted"] == "server at <IP> and <IP>."
    assert out[2]["n_ips"] == 2
    assert out[3]["redacted"] == "call <PHONE> or <PHONE>"
    assert out[3]["n_phones"] == 2
    assert out[4]["redacted"] == out[4]["text"]
    assert (out[4]["n_emails"], out[4]["n_ips"], out[4]["n_phones"]) == (0, 0, 0)


def test_redact_pii_email_wins_over_ip(spark):
    # a dotted-numeric email domain with an alphabetic TLD must be consumed
    # whole by the email pass, not half-redacted as an IP (the fixed
    # replacement order); without a TLD it is not an email, and the IP
    # inside the local@host form is still scrubbed
    df = _docs(
        spark,
        [(1, "x u@1.2.3.44.net y", "en", "s"), (2, "x u@1.2.3.44 y", "en", "s")],
    )
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert out[1]["redacted"] == "x <EMAIL> y"
    assert out[1]["n_emails"] == 1 and out[1]["n_ips"] == 0
    assert out[2]["redacted"] == "x u@<IP> y"
    assert out[2]["n_emails"] == 0 and out[2]["n_ips"] == 1


def test_redact_pii_preexisting_tokens_netted_out(spark):
    # counts are derived from inserted tokens by length difference; a
    # literal token already present in the input must not count
    df = _docs(spark, [(1, "<EMAIL> says hi to a@b.io and <IP>", "en", "s")])
    row = redact_pii(df).collect()[0]
    assert row["redacted"] == "<EMAIL> says hi to <EMAIL> and <IP>"
    assert row["n_emails"] == 1 and row["n_ips"] == 0 and row["n_phones"] == 0


def test_sample_stratified_deterministic_and_rate_bounded(spark):
    rows = [(i, f"t{i}", ["en", "de"][i % 2], "s") for i in range(400)]
    df = _docs(spark, rows)
    a = sample_stratified(df, "doc_id", "lang", {"en": 25, "de": 100}).collect()
    b = sample_stratified(df, "doc_id", "lang", {"en": 25, "de": 100}).collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    kept = {r["doc_id"]: r for r in a}
    # de (rate 100) keeps every row; en keeps the bucket<25 subset only
    assert sum(1 for r in a if r["lang"] == "de") == 200
    n_en = sum(1 for r in a if r["lang"] == "en")
    assert 0 < n_en < 200
    assert all(0 <= r["bucket"] < 100 for r in a)
    # rate 0 (default for unlisted strata) drops the stratum entirely
    none = sample_stratified(df, "doc_id", "lang", {"de": 100}).collect()
    assert all(r["lang"] == "de" for r in none)
    # a kept row's bucket really is below its stratum rate
    assert all(r["bucket"] < 25 for r in a if r["lang"] == "en")
    assert kept  # non-degenerate


def test_md5_bucket_matches_duckdb(spark):
    import duckdb

    df = spark.range(0, 50).select(
        F.col("id"), md5_bucket(F.col("id")).alias("bucket")
    )
    got = {r["id"]: r["bucket"] for r in df.collect()}
    want = {
        r[0]: r[1]
        for r in duckdb.sql(
            "SELECT i, ('0x' || substring(md5(cast(i AS varchar)), 1, 8))::bigint % 100 "
            "FROM range(50) t(i)"
        ).fetchall()
    }
    assert got == want


def test_pack_sequences_hand_example(spark):
    # shard A: tokens 300, 300, 500 -> starts 0, 300, 600 -> seqs 0, 0, 1
    # shard B independent: starts reset to 0
    df = spark.createDataFrame(
        [(1, "A", 300), (2, "A", 300), (3, "A", 500), (4, "B", 400), (5, "B", 200)],
        "doc_id long, source string, n_tokens long",
    )
    out = {
        r["id"]: (r["start_offset"], r["seq_id"])
        for r in pack_sequences(df, "doc_id", "n_tokens", budget=512).collect()
    }
    assert out == {1: (0, 0), 2: (300, 0), 3: (600, 1), 4: (0, 0), 5: (400, 0)}


def test_repetition_stats_hand_example(spark):
    df = _docs(
        spark,
        [
            # 4 tokens, 3 distinct ("a" twice): dup 1-3/4; bigrams
            # "a b","b a","a c" all unique -> top 1/3; trigrams 2, top 1/2
            (1, "a b a c", "en", "s"),
            # fully repetitive: dup 1-1/6; top bigram "x x" 5/5; trigram 4/4
            (2, "x x x x x x", "en", "s"),
            # single token: no bigrams/trigrams -> NULLs
            (3, "solo", "en", "s"),
            # empty text: no tokens at all -> row absent
            (4, "   ", "en", "s"),
        ],
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert set(rows) == {1, 2, 3}
    r1 = rows[1]
    assert abs(r1["dup_token_frac"] - 0.25) < 1e-12
    assert abs(r1["top_bigram_frac"] - 1 / 3) < 1e-12
    assert abs(r1["top_trigram_frac"] - 0.5) < 1e-12
    r2 = rows[2]
    assert abs(r2["dup_token_frac"] - 5 / 6) < 1e-12
    assert r2["top_bigram_frac"] == 1.0 and r2["top_trigram_frac"] == 1.0
    r3 = rows[3]
    assert r3["dup_token_frac"] == 0.0
    assert r3["top_bigram_frac"] is None and r3["top_trigram_frac"] is None


def test_repetition_stats_matches_counter_reference(spark):
    """Property: the sorted-run-length mode trick == Counter.most_common
    over hypothesis-generated corpora (small vocab → heavy collisions)."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    def ref(tokens):
        dup = 1.0 - len(set(tokens)) / len(tokens)

        def top(k):
            grams = [" ".join(tokens[i : i + k]) for i in range(len(tokens) - k + 1)]
            if not grams:
                return None
            return Counter(grams).most_common(1)[0][1] / len(grams)

        return (dup, top(2), top(3))

    @given(
        st.lists(
            st.lists(st.sampled_from(["a", "b", "ab", "ba", "x"]), min_size=1, max_size=12),
            min_size=1,
            max_size=20,
        )
    )
    @settings(max_examples=15, deadline=None)
    def check(docs):
        df = _docs(
            spark,
            [(i, " ".join(toks), "en", "s") for i, toks in enumerate(docs)],
        )
        got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
        assert set(got) == set(range(len(docs)))
        for i, toks in enumerate(docs):
            dup, t2, t3 = ref(toks)
            r = got[i]
            assert abs(r["dup_token_frac"] - dup) < 1e-12
            for name, want in [("top_bigram_frac", t2), ("top_trigram_frac", t3)]:
                if want is None:
                    assert r[name] is None
                else:
                    assert abs(r[name] - want) < 1e-12

    check()


def test_pack_sequences_matches_prefix_sum_reference(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        st.lists(
            st.tuples(st.sampled_from(["A", "B", "C"]), st.integers(0, 700)),
            min_size=1,
            max_size=30,
        )
    )
    @settings(max_examples=15, deadline=None)
    def check(rows):
        df = spark.createDataFrame(
            [(i, shard, n) for i, (shard, n) in enumerate(rows)],
            "doc_id long, source string, n_tokens long",
        )
        got = {r["id"]: r for r in pack_sequences(df, "doc_id", "n_tokens", budget=512).collect()}
        offsets: dict[str, int] = {}
        for i, (shard, n) in enumerate(rows):
            start = offsets.get(shard, 0)
            assert got[i]["start_offset"] == start
            assert got[i]["seq_id"] == start // 512
            assert got[i]["shard"] == shard
            offsets[shard] = start + n

    check()


def test_redact_pii_counts_match_injection(spark):
    """Property: inject k known PII items between letter-only filler
    tokens (which can never match any pattern) — counts must equal the
    injection tally and every injected item must be tokenized."""
    import random

    rng = random.Random(7)
    rows = []
    want = []
    for doc_id in range(40):
        parts, k = [], [0, 0, 0]
        for _ in range(rng.randint(1, 12)):
            kind = rng.randint(0, 5)
            if kind == 0:
                parts.append(f"u{rng.randint(0,99)}@ex{rng.randint(0,9)}.org")
                k[0] += 1
            elif kind == 1:
                parts.append(".".join(str(rng.randint(0, 255)) for _ in range(4)))
                k[1] += 1
            elif kind == 2:
                parts.append(f"+{rng.randint(1,99)}-{rng.randint(100,999)}-555-{rng.randint(1000,9999)}")
                k[2] += 1
            else:
                parts.append("".join(rng.choice("abcdef") for _ in range(rng.randint(1, 8))))
        rows.append((doc_id, " ".join(parts), "en", "s"))
        want.append(tuple(k))
    out = {r["doc_id"]: r for r in redact_pii(_docs(spark, rows)).collect()}
    for doc_id, (ne, ni, np_) in enumerate(want):
        r = out[doc_id]
        assert (r["n_emails"], r["n_ips"], r["n_phones"]) == (ne, ni, np_), (
            doc_id,
            rows[doc_id][1],
            r,
        )
        assert r["redacted"].count("<EMAIL>") == ne
        assert r["redacted"].count("<IP>") == ni
        assert r["redacted"].count("<PHONE>") == np_


def test_clean_corpus_gopher_gates(spark):
    from bop_consus_importing_rdf_spark.operators.textstats import (
        clean_corpus,
        clean_corpus_gopher,
    )

    base = (
        "the data and table of is scan with join merge the filter and "
        "sort of group is order with key the value and row of batch is "
        "line with part the query and spark of window is stream with agg"
    )
    rows = [
        (1, base, "en", "s"),  # quality-passing, low repetition -> kept
        (2, base + " " + "the scan " * 40, "en", "s"),  # top-bigram spam
        (3, base.replace("the", "the the"), "en", "s"),  # dup-token heavy
    ]
    df = _docs(spark, rows)
    plain = {r["doc_id"] for r in clean_corpus(df).collect()}
    gated = {r["doc_id"]: r for r in clean_corpus_gopher(df).collect()}
    assert 1 in gated
    # doc 2 passes the plain chain but the bigram gate kills it
    assert 2 in plain and 2 not in gated
    r1 = gated[1]
    assert r1["top_bigram_frac"] <= 0.05 and r1["dup_token_frac"] <= 0.6
    # the composed plan adds NO exchange beyond clean_corpus's dedup:
    # same aggregate+join shuffle count with the gates fused in
    import re

    def n_exchanges(frame):
        plan = frame._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        return len(re.findall(r"\(\d+\) Exchange\b", plan))

    assert n_exchanges(clean_corpus_gopher(df)) == n_exchanges(clean_corpus(df))


def test_repetition_stats_case_fold(spark):
    # tokens are lowercased before counting: "The the THE" is one gram
    df = _docs(spark, [(1, "The the THE", "en", "s")])
    r = repetition_stats(df).collect()[0]
    assert abs(r["dup_token_frac"] - 2 / 3) < 1e-12
    assert r["top_bigram_frac"] == 1.0


def test_decontaminate_ngram_leak(spark):
    from bop_consus_importing_rdf_spark.operators.pretrain import (
        decontaminate,
        remove_contaminated,
    )

    eval_text = "q0 q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12"  # one 13-gram
    rows = [
        (1, "prefix words " + eval_text + " suffix words", "en", "s"),
        (2, eval_text, "en", "s"),                        # verbatim leak
        (3, "totally unrelated text with no overlap at all "
            "padded out to well over thirteen tokens in total here", "en", "s"),
        (4, "q0 q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 DIFFERENT", "en", "s"),
    ]
    docs = _docs(spark, rows)
    bench = _docs(spark, [(100, eval_text, "en", "eval")])

    hits = {r.id: r.n_hit_ngrams for r in
            decontaminate(docs, bench, n=13).collect()}
    # doc 1 contains the eval 13-gram (partial quote), doc 2 is verbatim;
    # doc 4 shares only 12 of 13 tokens — NOT flagged at n=13
    assert hits == {1: 1, 2: 1}

    clean = remove_contaminated(docs, bench, n=13)
    assert sorted(r.doc_id for r in clean.collect()) == [3, 4]


def test_decontaminate_short_bench_doc(spark):
    """Benchmark items shorter than n collapse to one sub-n gram (same
    word_ngrams edge rule both engines share) — still detected when a
    corpus doc IS that exact short text."""
    from bop_consus_importing_rdf_spark.operators.pretrain import decontaminate

    docs = _docs(spark, [(1, "tiny eval item", "en", "s"),
                         (2, "tiny eval item plus more trailing words here "
                             "so the full thirteen gram never matches it",
                          "en", "s")])
    bench = _docs(spark, [(9, "tiny eval item", "en", "eval")])
    hits = {r.id: r.n_hit_ngrams for r in
            decontaminate(docs, bench, n=13).collect()}
    assert hits == {1: 1}  # doc 2's sub-gram is longer -> different string


def test_repetition_stats_arrow_equals_column_spelling(spark):
    """The Arrow mode-counting path and the column-expression spelling
    (composed into clean_corpus_gopher) must agree value-for-value,
    including NULLs for docs shorter than the n-gram order."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bop_consus_importing_rdf_spark.operators.textstats import (
        repetition_stats,
        repetition_stats_columns,
    )

    @given(
        st.lists(
            st.lists(st.sampled_from(["a", "b", "ab", "x"]),
                     min_size=0, max_size=6),
            min_size=1, max_size=12,
        )
    )
    @settings(max_examples=10, deadline=None)
    def check(docs):
        df = _docs(
            spark,
            [(i, " ".join(toks), "en", "s") for i, toks in enumerate(docs)],
        )
        a = {r["doc_id"]: (r["dup_token_frac"], r["top_bigram_frac"],
                           r["top_trigram_frac"])
             for r in repetition_stats(df).collect()}
        b = {r["doc_id"]: (r["dup_token_frac"], r["top_bigram_frac"],
                           r["top_trigram_frac"])
             for r in repetition_stats_columns(df).collect()}
        assert a == b  # exact, including None vs None

    check()


def test_shuffle_shards_deterministic_permutation(spark):
    from bop_consus_importing_rdf_spark.operators.pretrain import shuffle_shards

    df = _docs(spark, [(i, f"doc {i}", "en", "s") for i in range(200)])
    out = shuffle_shards(df, "doc_id", n_shards=8).collect()
    # a permutation: every row kept, (shard, pos) unique, pos dense per shard
    assert len(out) == 200
    assert len({(r["shard"], r["pos"]) for r in out}) == 200
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, positions in by_shard.items():
        assert sorted(positions) == list(range(1, len(positions) + 1)), shard
    assert set(by_shard) <= set(range(8))
    # deterministic: a re-run (fresh plan) lands every id identically
    again = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in shuffle_shards(df, "doc_id", n_shards=8).collect()
    }
    assert {r["doc_id"]: (r["shard"], r["pos"]) for r in out} == again
    # decorrelated from input order: consecutive ids do not ride together
    first = {r["doc_id"]: (r["shard"], r["pos"]) for r in out}
    same_shard_adjacent = sum(
        1 for i in range(199) if first[i][0] == first[i + 1][0]
    )
    assert same_shard_adjacent < 60  # ~25 expected at 8 uniform shards


def test_dsir_weights_matches_python_reference(spark):
    import hashlib
    import math
    from collections import Counter

    from bop_consus_importing_rdf_spark.operators.pretrain import dsir_weights

    rows = [
        (1, "the cat sat on the mat", "en", "s"),
        (2, "the dog sat on the log", "en", "s"),
        (3, "quantum flux harmonics resonate", "en", "s"),
        (4, "the cat and the dog sat", "en", "s"),
        (5, "", "en", "s"),
        (6, "single", "en", "s"),
    ]
    docs = _docs(spark, rows)
    target = docs.filter(F.col("doc_id").isin(1, 4))
    B, SCALE = 8192, 1_000_000

    def grams(text: str) -> list[int]:
        # mirror the \s+ regex split: fixtures are single-space only, and
        # the empty doc splits to [""] in both engines
        toks = text.lower().split(" ")
        gs = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        return [
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B for g in gs
        ]

    raw = {i: grams(t) for i, t, _, _ in rows}
    tgt = {i: raw[i] for i in (1, 4)}
    cr = Counter(b for g in raw.values() for b in g)
    ct = Counter(b for g in tgt.values() for b in g)
    R, T = sum(cr.values()), sum(ct.values())
    lam = {
        b: math.floor(
            SCALE * math.log((ct[b] + 1) * (R + B) / ((cr[b] + 1) * (T + B)))
        )
        for b in cr
    }
    expected = {
        i: (len(g), sum(lam[b] for b in g)) for i, g in raw.items()
    }
    got = {
        r["id"]: (r["n_grams"], r["logw_q"])
        for r in dsir_weights(docs, target).collect()
    }
    assert got == expected
    # target members must outscore the out-of-distribution doc per gram
    assert got[1][1] / got[1][0] > got[3][1] / got[3][0]


def test_prepare_corpus_composition_and_plan(spark):
    from bop_consus_importing_rdf_spark.operators.pretrain import (
        decontaminate,
        prepare_corpus,
    )
    from bop_consus_importing_rdf_spark.operators.textstats import (
        clean_corpus_gopher,
    )

    rows = []
    for i in range(120):
        # realistic-enough English so the quality/lang gates keep most
        rows.append(
            (i, f"the quick brown fox number {i} jumps over the lazy dog "
                f"and then walks away from the river bank slowly", "en", "s")
        )
    rows.append((200, rows[0][1], "en", "s"))       # exact dup of doc 0
    rows.append((201, "za zb zc " * 40, "en", "s"))  # repetition-gated
    docs = _docs(spark, rows)
    bench = docs.filter(F.col("doc_id") == 7)        # decontaminates itself
    out = prepare_corpus(docs, bench, n_shards=4, budget=64)
    got = out.collect()
    ids = {r["doc_id"] for r in got}
    # stage-wise recomposition: gopher survivors minus decontamination hits
    surv = {
        r["doc_id"]
        for r in clean_corpus_gopher(docs).select("doc_id").collect()
    }
    hits = {
        r["id"]
        for r in decontaminate(
            docs.join(
                spark.createDataFrame(
                    [(i,) for i in surv], "doc_id long"
                ),
                "doc_id",
                "left_semi",
            ),
            bench,
        ).collect()
    }
    assert ids == surv - hits
    assert 200 not in ids and 201 not in ids and 7 not in ids
    # training-layout invariants: pos dense per shard, start_offset is the
    # prefix sum of n_tokens in pos order, seq_id = floor(start/budget)
    by_shard: dict[int, list] = {}
    for r in got:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, members in by_shard.items():
        members.sort(key=lambda r: r["pos"])
        assert [r["pos"] for r in members] == list(
            range(1, len(members) + 1)
        )
        run = 0
        for r in members:
            assert r["start_offset"] == run
            assert r["seq_id"] == run // 64
            run += r["n_tokens"]
    # plan shape: the shuffle rank and the packing cumsum share ONE
    # exchange — the composed tail (everything below the last
    # hash-exchange) must contain BOTH window operators, i.e. packing
    # added no exchange beyond shuffle_shards' own
    from bop_consus_importing_rdf_spark.operators.pretrain import (
        shuffle_shards,
    )

    base_plan = (
        shuffle_shards(docs, "doc_id", 4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert base_plan.count("Exchange hashpartitioning") == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    last_stage = plan.split("Exchange hashpartitioning")[0]
    assert last_stage.count("Window") >= 2


def test_score_buckets_thirds_and_tie_handling(spark):
    from bop_consus_importing_rdf_spark.operators.pretrain import (
        score_buckets,
    )

    # 9 docs, distinct scores: exact thirds
    df = spark.createDataFrame(
        [(i, i * 10) for i in range(9)], "doc_id long, score_q long"
    )
    got = {r["id"]: r["bucket"] for r in score_buckets(df).collect()}
    assert [got[i] for i in range(9)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    )

    # a tie straddling the first boundary: ALL tied docs land in head
    # (thresholds are score values, buckets never split a score)
    df2 = spark.createDataFrame(
        [(0, 1), (1, 5), (2, 5), (3, 5), (4, 7), (5, 9)],
        "doc_id long, score_q long",
    )
    got2 = {r["id"]: r["bucket"] for r in score_buckets(df2).collect()}
    # N=6: t1 = min score with 3*cum>=6  -> cum(5)=4, 12>=6  -> t1=5
    #      t2 = min score with 3*cum>=12 -> cum(5)=4, 12>=12 -> t2=5 too:
    # the tie swallows the whole first two thirds — head inflates, middle
    # is empty, scores above the tie are tail (documented semantics)
    assert got2 == {0: "head", 1: "head", 2: "head", 3: "head",
                    4: "tail", 5: "tail"}


def test_mix_domains_shares_and_errors(spark):
    import pytest
    from pyspark.sql import functions as F

    from bop_consus_importing_rdf_spark.operators.pretrain import mix_domains

    # two domains with equal tokens; target 3:1 → B thinned to ~1/3 of A
    rows = [(i, "a" if i < 400 else "b", "tok " * 10) for i in range(800)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = mix_domains(df, {"a": 750, "b": 250})
    kept = {
        r["domain"]: r["k"]
        for r in out.groupBy("domain").agg(
            F.sum("n_tokens").alias("k")
        ).collect()
    }
    # binding domain a keeps everything; b's rate = (250*T_a)/(750*T_b)=1/3
    assert kept["a"] == 4000
    assert 0.25 <= kept["b"] / kept["a"] <= 0.42  # md5-draw variance band
    # rate_ppm is exact: every kept b-row carries 333333
    assert out.filter("domain = 'b'").select("rate_ppm").distinct() \
        .collect()[0][0] == 333_333
    # domains absent from targets are dropped entirely
    assert out.filter("domain NOT IN ('a','b')").count() == 0
    # unsatisfiable target domain raises loudly
    with pytest.raises(ValueError, match="unsatisfiable"):
        mix_domains(df, {"a": 500, "nope": 500})
    with pytest.raises(ValueError, match="positive"):
        mix_domains(df, {"a": 0})


def test_mix_domains_rate_expr_survives_int64_overflow_scale(spark):
    """ADVICE r5: the BIGINT keep-rate wrapped once s*T_b*1e6 passed 2^63
    (~9.2e9 binding-domain tokens at shares near 1000‰). The DECIMAL(38,0)
    spelling must stay exact there."""
    from bop_consus_importing_rdf_spark.operators.pretrain import RATE_PPM_EXPR

    row = spark.createDataFrame(
        [(1000, 40_000_000_000, 20_000_000_000, 1000)],
        "s long, t long, t_b long, s_b long",
    )
    from pyspark.sql import functions as F

    got = row.select(F.expr(RATE_PPM_EXPR).alias("r")).collect()[0]["r"]
    # (1000 * 2e10 * 1e6) / (1000 * 4e10) = 5e5 — the int64 numerator
    # (2e19) would have wrapped negative in non-ANSI mode
    assert got == 500_000


def test_mix_oracle_rate_matches_spark_at_int64_overflow_scale(spark):
    """The DuckDB mix oracle's rate CTEs agree with ``RATE_PPM_EXPR`` on
    the overflow-scale row above: binding domain ``b`` (cap 2e13 < 4e13),
    rate 500000 for ``a`` and the 10⁶ cap for ``b``. In BIGINT DuckDB
    raises on the 2e19 numerator."""
    import duckdb
    from pyspark.sql import functions as F

    from bop_consus_importing_rdf_spark.oracle import MIX_RATES_SQL
    from bop_consus_importing_rdf_spark.operators.pretrain import RATE_PPM_EXPR

    sized = [("a", 1000, 40_000_000_000), ("b", 1000, 20_000_000_000)]
    values = ", ".join(f"('{d}', {s}, {t})" for d, s, t in sized)
    duck = dict(duckdb.sql(
        f"WITH sized(domain, s, t) AS (SELECT col0, cast(col1 AS bigint), "
        f"cast(col2 AS bigint) FROM (VALUES {values})), {MIX_RATES_SQL} "
        "SELECT domain, rate_ppm FROM rates"
    ).fetchall())
    rows = spark.createDataFrame(
        [(d, s, t, 20_000_000_000, 1000) for d, s, t in sized],
        "domain string, s long, t long, t_b long, s_b long",
    ).select(
        "domain",
        F.least(F.lit(1_000_000).cast("long"), F.expr(RATE_PPM_EXPR)),
    )
    assert duck == dict(rows.collect()) == {"a": 500_000, "b": 1_000_000}


def test_mix_domains_rejects_over_1000_permille(spark):
    import pytest

    from bop_consus_importing_rdf_spark.operators.pretrain import mix_domains

    df = spark.createDataFrame(
        [(1, "a", "tok tok")], "doc_id long, source string, text string"
    )
    with pytest.raises(ValueError, match="above 1000"):
        mix_domains(df, {"a": 1001})
