"""Incremental ingestion via Structured Streaming.

The reference's Kotlin Flow is a *bounded* sequential stream per pipe run —
batch semantics — so the core pipeline is batch (SURVEY.md §1.4). This
module holds the unbounded variants, each a ``foreachBatch`` over a watched
directory into a checkpointed parquet sink: transcripts → linked entity
mentions (:func:`stream_extract_triples`, the batch KG's mention and link
stage) and RDF dumps → statement rows (:func:`stream_parse_rdf`, the batch
parsers). Exactly-once per batch comes from the sink's idempotent
overwrite-by-batch-id directory layout.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..model import TRANSCRIPTS_SCHEMA


def stream_extract_triples(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    aliases: DataFrame,
    available_now: bool = True,
):
    """Start (and with ``available_now``, drain) streaming entity linking.

    Each micro-batch of transcript turns becomes linked mentions, one row
    per occurrence: ``(conv_id, turn_idx, mention_pos, alias, entity_uri,
    score)``, with ``score`` the winning alias row's prior. Returns the
    StreamingQuery. Watermarking is unnecessary: matching is stateless per
    turn — ordering/dedup happen in the downstream batch compaction.

    Shared with batch ``build_kg``: the gazetteer-scale decision
    (``kg.pipeline.small_gazetteer_rows``) and the mention matchers it
    picks — the trie regex (``detect_mentions``) over the taken alias
    rows for a broadcast-scale gazetteer, the join matcher
    (``kg.matcher.with_matched_mentions``) at scale, where the gazetteer
    never touches the driver. Both branches link with one plain join
    against ``best_alias_entities`` (argmax prior per alias), so their
    output is identical (``test_streaming``). The dictionary-side frames
    are built ONCE outside ``process_batch`` — per-batch work touches only
    the micro-batch.
    """
    from pyspark.sql import functions as F

    from ..kg.linking import explode_mentions
    from ..kg.matcher import (
        alias_match_table,
        best_alias_entities,
        with_matched_mentions,
    )
    from ..kg.mentions import detect_mentions
    from ..kg.pipeline import small_gazetteer_rows

    rows = small_gazetteer_rows(aliases)
    if rows is not None:
        mentions = detect_mentions(
            F.col("text"), sorted({r.alias for r in rows})
        )

        def add_mentions(df: DataFrame) -> DataFrame:
            return df.withColumn("mentions", mentions)
    else:
        match_table = alias_match_table(aliases)

        def add_mentions(df: DataFrame) -> DataFrame:
            return with_matched_mentions(df, match_table)
    best = best_alias_entities(aliases, include_score=True)

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        linked = explode_mentions(add_mentions(batch_df)).join(best, "alias")
        linked.select(
            "conv_id", "turn_idx", "mention_pos", "alias", "entity_uri",
            "score",
        ).write.mode("overwrite").parquet(
            os.path.join(output_dir, f"batch_id={batch_id}")
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(output_dir, "_checkpoint"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_parse_rdf(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    fmt: str = "nt",
    available_now: bool = True,
):
    """Continuous-harvest ingest: watch a directory of RDF text dumps,
    parse each micro-batch with the SAME batch parser, append statement
    rows to a parquet sink with checkpointing.

    The unbounded counterpart of ``harvest.py``'s one-shot acquire+parse
    stage (reference S1/S5): a harvester that keeps receiving catalogue
    dumps points this at the landing directory and runs the split/manifest
    stages as periodic batch compactions over the sink — the same
    batch-code-reuse pattern as :func:`stream_extract_triples`.
    ``foreachBatch`` (not a direct streaming sink) because the parser's
    split-union plan carries a nondeterministic pushdown guard that a
    continuous query's analyzer would reject; per-batch it runs as plain
    batch code. Supported ``fmt``: line-oriented syntaxes (``nt``, ``nq``,
    ``ttl``, ``jsonld``).
    """
    from ..sources.rdf_io import parse_nquads, parse_ntriples

    if fmt not in ("nt", "nq", "ttl", "jsonld"):
        raise ValueError(f"line-oriented syntaxes only, got {fmt!r}")

    stream = spark.readStream.text(input_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if fmt == "nt":
            parsed = parse_ntriples(batch_df)
        elif fmt == "nq":
            parsed = parse_nquads(batch_df)
        elif fmt == "ttl":
            from ..sources.turtle_io import parse_turtle

            parsed = parse_turtle(batch_df)
        else:
            from ..sources.jsonld_io import parse_jsonld

            parsed = parse_jsonld(batch_df)
        parsed.write.mode("overwrite").parquet(
            os.path.join(output_dir, f"batch_id={batch_id}")
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(output_dir, "_checkpoint"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
