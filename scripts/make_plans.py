#!/usr/bin/env python
"""Regenerate PLANS.md: physical-plan evidence for the headline operators.

Runs each query at sf0.001, counts exchange/broadcast operators in the
formatted explain, extracts ReadSchema/PushedFilters lines, and prepends a
hand-maintained commentary block per query (edit COMMENTARY below).
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"

COMMENTARY = {
    "token_counts": "Pure column expressions over documents: scan reads ONLY (doc_id, text).",
    "cosine_topk": "Brute-force exact top-k: the 8-query side broadcasts (BroadcastNestedLoopJoin), the corpus side never shuffles; the only hash exchange is the per-query window.",
    "doc_entity_links": "Gazetteer joins broadcast; mention detection is the JVM trie-pattern regexp_extract_all (detect_mentions), codegen'd into the scan stage with no Python worker.",
    "minhash_lsh_pairs": "LSH band self-join shuffles on the uniform band key; jaccard intersection joins shuffle on doc id — every shuffle carries a semantically required key. The hot-bucket cap (max_bucket=4096) adds one map-side-combinable count + semi-join on the band key, the guard that keeps candidate generation linear on boilerplate-heavy corpora.",
    "split_datasets": (
        "The iterative closure runs as separate driver-materialized jobs "
        "(one loop of 4-hop blocks; a block is ONE plan whose hop joins are "
        "broadcast-hash probes of the slim edge projection, one groupBy "
        "exchange, one checkpoint; the fixture graph closes inside the "
        "first block), so the counts below cover the final consumer plan "
        "reading the checkpointed tables. The dataset-subject scan and the "
        "identifier aggregation are FUSED into one filtered groupBy; the "
        "closure roots split ds-vs-catalogue by a broadcast ANTI join "
        "against the small catalogue-root set. ONE per-dataset counts "
        "aggregate over the checkpointed statement table is both F4's "
        "non-empty filter (an inner join onto the named datasets) and the "
        "n_triples column this query selects, so the plan scans that "
        "checkpoint once. The aggregate combines map-side, so its exchange "
        "carries about one row per dataset per partition."
    ),
    "split_datasets_bucketed": (
        "The GRADED bench variant: identical split semantics, probe side "
        "reading the bucketed-by-subj external table the production harvest "
        "lands (the one-time landing is ingest work, reported separately as "
        "bucketed_landing_sec). split_datasets persists no input, so "
        "every consumer re-reads the column-pruned bucketed scan, and once the closure side exceeds the "
        "broadcast threshold the subgraph probe join plans with NO exchange "
        "on the triple side (1 exchange vs 2 over plain parquet — asserted "
        "by test_bucketed.py::test_split_probe_side_exchange_free_over_"
        "bucketed). 19.2s (r4) -> 13.3s (r5) -> 12.7s min-of-3 at sf0.1 "
        "(r6, measured on a window where the r5 tree started at 15.6s; "
        "see OPTIMIZATION_r06.md §1)."
    ),
    "jsonld_parse_roundtrip": (
        "Round-5 rebuild on the split-union parser architecture: the "
        "previous single-projection spelling inlined the Python fallback "
        "into every output column and re-evaluated it in the malformed-drop "
        "filter — measured 59.7s vs 7.2s for the identical 905k-line parse. "
        "Clean branch = packed regex + anchored extracts projected into "
        "attributes, 100% whole-stage codegen; assist branch = one "
        "ArrowEvalPython behind a nondeterministic plan barrier."
    ),
    "events_sessionize": "Single window per user; scan pruned to (user_id, event_id, ts).",
    "nt_parse": (
        "Ingestion hot path, split-union design: clean lines (in practice "
        "all) run a 100% JVM whole-stage-codegen branch — ONE regexp pass "
        "packs the statement groups, zero Python; lines carrying raw "
        "\\x01/\\x02 or a \\u escape route whole to one ArrowEvalPython "
        "exact-parser branch. Measured 2.4x vs the previous always-on "
        "Python-exchange plan (2.7s vs 6.5s, 905k lines, local[32]). The "
        "Scan ExistingRDD source below is the round-5 structural caller "
        "contract at work: this evidence query feeds the LIVE 18-branch "
        "render union, which ensure_materialized auto-checkpoints at entry "
        "so the union is never cloned into the parse branches."
    ),
    "simhash_near_pairs": (
        "64-bit SimHash block LSH: token explode + two aggregations build "
        "signatures; the pair stage self-joins on 16-bit block keys "
        "(65 536 buckets/block — sub-linear bucket sizes) and filters by "
        "exact popcount hamming."
    ),
    "canonical_hash": (
        "Reads the checkpointed split output, which is hash-partitioned by "
        "dataset_id — the groupBy aggregation needs no exchange of its own "
        "beyond reading the checkpoint blocks."
    ),
    "repetition_stats": (
        "Gopher repetition filters: per-document statistics need no "
        "cross-document aggregation, so the plan is a pure projection — "
        "mode count == max run length of the sorted gram array, computed "
        "row-local with sort_array + an O(n) aggregate fold. ZERO "
        "exchanges; the first-cut explode+groupBy spelling shuffled ~3x "
        "the corpus tokens and ran 2x slower (89s vs 46s at 1M docs)."
    ),
    "pii_redact": (
        "PII scrubbing: the entire pass (three regexp_replace + three "
        "match counts) is one whole-stage-codegen projection over the "
        "scan — zero exchanges, the shape a 100 TB full-corpus pass "
        "must have."
    ),
    "sample_stratified": (
        "Deterministic md5-bucket sampling: the keep predicate is a pure "
        "row function planned as a codegen'd Filter directly over the "
        "scan — zero exchanges, trivially partition-parallel, "
        "reproducible across runs and engines."
    ),
    "pack_sequences": (
        "Token-budget sequence packing: ONE exchange hash-partitions by "
        "the shard key, then the running-offset window sorts within "
        "shards only — no global sort, no single-reducer cumulative sum; "
        "skew bounded by shard size, the same contract as any per-shard "
        "packer."
    ),
    "prepare_corpus": (
        "The composed pre-training flagship: the exchanges are exactly "
        "the union of its stages' — dedup md5 groupBy + semi join, the "
        "decontamination gram groupBy (eval-set side broadcast), and ONE "
        "exchange for the shuffle/pack tail (rank + cumsum share the "
        "(shard, pos) window partitioning). The gate subtree is "
        "checkpointed as a bare (id, n_tokens) set: three consumers, "
        "re-evaluation measured 106.6s vs 79.8s at 1M docs (13k docs/s "
        "end-to-end, fresh JVM, local[32])."
    ),
    "shuffle_shards": (
        "Deterministic corpus shuffle: ONE exchange (hash on the md5 "
        "shard) + a per-shard sort for the rank window — the theoretical "
        "floor for any global shuffle; no total order, no RNG state, "
        "md5-balanced shards. 3.5s / 286k docs/s at 1M docs (fresh JVM, "
        "local[32]); pick n_shards ≥ writer parallelism at 100 TB."
    ),
    "dsir_weights": (
        "DSIR importance weights: the corpus is read exactly twice — one "
        "rollup pass folding per-bucket counts AND grand totals into a "
        "single map-side-combinable aggregation (its (B+1)-row result "
        "checkpointed so no consumer re-runs the gram explode), one "
        "scoring pass joining the broadcast λ table and group-summing "
        "BIGINT per doc. 24.9s / 40k docs/s at 1M docs (~240M gram "
        "instances); the naive three-evaluation spelling measured 409.7s."
    ),
    "line_dedup_docs": (
        "CCNet line-level dedup: TWO exchanges total, corpus read once — "
        "the keep-first winner per distinct line is a min-struct groupBy "
        "whose partial aggregation collapses hot boilerplate lines in the "
        "map-side combiners (no join back to the line stream, no skewed "
        "window), then one per-document reassembly groupBy. 12.4s at 1M "
        "docs / 16.2M lines (fresh JVM, local[32]), 67% of lines deduped."
    ),
    "graph_triangles": (
        "Degree-ordered triangle counting (Suri & Vassilvitskii WWW "
        "2011): orientation bounds every out-degree by O(sqrt m), so the "
        "wedge self-join's fan-out is capped and rdf:type-scale hubs emit "
        "ZERO wedges (a 500-leaf star is test-pinned triangle-free in "
        "milliseconds). 10.6s at the 2.18M-edge sf1 shortcut closure."
    ),
    "bgp_orders_chain": (
        "Conjunctive BGP evaluation: every constant term reaches the "
        "parquet scan as a pushed filter (test_bgp pins PushedFilters), "
        "shared variables become equi-joins Catalyst reorders freely; "
        "with the subj-bucketed statement layout, subject-chained "
        "patterns co-locate."
    ),
    "prefix_jaccard_pairs": (
        "EXACT all-pairs Jaccard via prefix filtering (Bayardo WWW "
        "2007): candidates from a self-join on each set's rare-first "
        "prefix tokens only — lossless, and hot boilerplate tokens land "
        "in nobody's prefix; the sort key is the (frequency, token) "
        "pair, so no single-partition global rank window exists."
    ),
    "bpe_merges": (
        "BPE training: iterations run over the word-frequency VOCABULARY "
        "table (combinable pair count + row-local wrapped-string "
        "replace), never the corpus; the argmax is a 1-row driver "
        "dimension read embedded as a literal. 185.9s for 10 merges over "
        "a 26M-distinct-word worst-case vocabulary."
    ),
    "substring_dedup": (
        "Token-window ExactSubstr: duplicated-gram set via ONE map-side-"
        "combinable groupBy(md5(gram)) + semi join back on the hash; "
        "coverage is an (id, pos) equi-join of duplicated starts into the "
        "token stream + a per-document running-max window over the "
        "previous W rows (linear — the explode+anti-join spelling made a "
        "712M-row stream Catalyst chose as a broadcast build and died; "
        "see BENCH/BASELINE.md). Window sort is reused by the reassembly "
        "groupBy. 56.1s at 1M docs / 54.1M tokens (realistic 10%-dup "
        "mix); 75.8s on the all-duplicated pathological corpus."
    ),
    "graph_pagerank": (
        "Integer-quantized PageRank, 5 iterations: each iteration is the "
        "MapReduce floor — one join of the checkpointed (src, dst, deg) "
        "adjacency against the rank table plus one map-side-combinable "
        "sum on dst; per-iteration localCheckpoint truncates lineage, so "
        "the counts below cover the final consumer plan over the last "
        "checkpointed iteration. All arithmetic is BIGINT (rank div "
        "outdeg, integer 85/100 damping): bit-exact vs the unrolled-CTE "
        "oracle regardless of aggregation order. 12.8s at the sf1 graph "
        "(1.88M edges, 1.67M nodes, fresh JVM, local[32])."
    ),
    "tfidf_keywords": (
        "Per-document TF-IDF top-k: two map-side-combinable counts — the "
        "(id, term) tf table, then vocabulary document frequency over it "
        "(hot terms collapse in the combiners) — the single-row corpus "
        "count broadcast, the O(vocabulary) df table joined back on term, "
        "and a per-document window for the top-k (partitioned by doc, no "
        "global sort). Ranking is integer-exact: tf · floor(scale·ln(N/df)) "
        "— the double ln is the one shared evaluation, everything after "
        "is BIGINT."
    ),
    "embedding_clusters": (
        "Corpus clustering (the IVF coarse quantizer standalone): ZERO "
        "shuffles — one Arrow-batched int64 matmul+argmin per batch "
        "(bit-identical to the literal-HOF argmin, path-equality pinned; "
        "numpy measured 6.7× at 1M vectors × 64 cells), centroids "
        "broadcast as a literal, the whole operator pipelines into the "
        "vector scan."
    ),
    "dsir_buckets": (
        "CCNet terciles over DSIR target-likeness: dsir_weights' two "
        "corpus passes plus ONE combinable groupBy(score) — the cumsum "
        "and both thresholds run on the O(distinct scores) distribution "
        "table (single-partition window over the distribution, never the "
        "corpus), then broadcast to a pure bucket projection. 4.1s for "
        "the bucketing alone at 1M docs."
    ),
    "kg_negative_samples": (
        "Reproducible corrupted-triplet negatives: the entity pool is "
        "indexed by ONE row_number window over the O(entities) pool "
        "table (never the triple corpus); each positive fans out k "
        "md5-derived replacement indices row-locally and negatives "
        "attach via a skew-free equi-join on the uniform index "
        "(broadcast here — the pool is small; shuffle-join at scale)."
    ),
    "entity_cooccurrence": (
        "PMI relatedness edges: per-doc entity sets from one combinable "
        "collect_set groupBy; unordered pairs generated ROW-LOCALLY over "
        "the sorted array (no self-join shuffle carries the quadratic "
        "term); pair counts + marginals are combinable aggregations, "
        "marginals broadcast back, ln quantized to BIGINT."
    ),
    "harvest_diff": (
        "Incremental-harvest change detection: the canonical-hash "
        "snapshots are O(datasets)-row two-column tables regardless of "
        "triple volume, and the classification is ONE full-outer join on "
        "the dataset id (off the bucketed landing layout both sides "
        "co-locate and the join plans exchange-free). The exchanges below "
        "are dominated by BUILDING the two snapshots from the split "
        "fixture — in production each harvest already persists its hash "
        "table and the diff reads two tiny artifacts."
    ),
    "kg_transcripts_e2e": (
        "Transcript → KG triples (build_kg over the literal e2e corpus): "
        "the stable_turns window is the one conv_id shuffle of the "
        "extraction path (the second exchange is the query's own input "
        "repartition; the counts below list both once per cache reader); "
        "the fused mention/relation extraction is persisted "
        "(InMemoryRelation) and read by the per-turn explode and by the "
        "relation branch, whose conv-level dedup aggregates exchange-free on "
        "the window's partitioning. Inside the cached plan the JVM "
        "extraction is three stacked codegen'd Projects — packed template "
        "regexp_replace + split, template rlike and trie "
        "regexp_extract_all; the two whitespace strips; the year and "
        "gazetteer-membership check building _mr. Each stage reads the one "
        "below more than once, so CollapseProject keeps them apart and the "
        "cached plan holds 3 regexp_replace and 1 split per turn (59 and 48 "
        "when the extraction was one inlined Column tree)."
    ),
}


def main() -> None:
    from bop_consus_importing_rdf_spark.oracle import SPARK_QUERIES
    from bop_consus_importing_rdf_spark.session import get_spark
    from bop_consus_importing_rdf_spark.sources.rdf_io import parse_ntriples

    spark = get_spark("plans", cores=8)
    spark.sparkContext.setLogLevel("ERROR")

    def q_nt_parse(s, d):
        return parse_ntriples(
            SPARK_QUERIES["nt_render"](s, d).withColumnRenamed("line", "value")
        )

    queries = {name: SPARK_QUERIES.get(name, q_nt_parse) for name in COMMENTARY}

    out = [
        "# PLANS — physical-plan evidence (`.explain`) for the headline operators",
        "",
        "Generated by `scripts/make_plans.py` from the executed plans at "
        "sf0.001. What to look for, per the scale brief: filters/projections "
        "reach the parquet scan (`PushedFilters`, `ReadSchema`), small "
        "dimensions broadcast, exchanges only where a shuffle is "
        "semantically required.",
        "",
    ]
    for name, fn in queries.items():
        df = fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()  # AQE-final plan
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        n_shuffle = len(re.findall(r"\(\d+\) Exchange\b", plan))
        n_bcast = len(re.findall(r"\(\d+\) BroadcastExchange\b", plan))
        n_wsc = len(set(re.findall(r"codegen id : (\d+)", plan)))
        schemas = sorted(set(re.findall(r"ReadSchema: \S+", plan)))
        pushed = sorted(set(re.findall(r"PushedFilters: \[[^\]]*\]", plan)))
        out.append(f"## {name}")
        out.append("")
        out.append(COMMENTARY[name])
        out.append("")
        out.append(
            f"- shuffle exchanges: {n_shuffle}; broadcast exchanges: "
            f"{n_bcast}; whole-stage-codegen spans: {n_wsc}"
        )
        out.extend(f"- `{s}`" for s in schemas)
        out.extend(f"- `{p}`" for p in pushed)
        out.append("")
    Path("/root/repo/PLANS.md").write_text("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
