#!/usr/bin/env python
"""spark-submit harvester entry: RDF document(s) → per-dataset N-Triples.

The reference's ACTUAL job end-to-end (``ImportingRdfVerticle`` →
``Flows.kt:47-136``): acquire a catalogue dump, optionally gunzip and
pre-process, parse (any of the six supported syntaxes — the reference
delegates syntax detection to Jena, ``Flows.kt:66-77``), split into
per-dataset subgraphs with identifier derivation and nested-catalogue
subtraction, render canonical N-Triples per dataset, and emit the
identifier manifest + duplicate warnings + per-stage lineage metrics.

    zip -r pipeline.zip bop_consus_importing_rdf_spark
    spark-submit --py-files pipeline.zip harvest.py \
        --input dump.ttl.gz --output /data/harvest_out \
        --catalogue my-catalogue [--format auto] [--pre-process] \
        [--remove-prefix] [--precedence-uri-ref] [--keep-malformed]

Output layout under ``--output``:

- ``datasets/`` — text files partitioned by ``dataset_id=...``, one
  N-Triples line per statement (the reference's per-dataset payload,
  ``Flows.kt:122-127``). NOTE ``partitionBy(dataset_id)`` is the
  CLI-convenience sink; at catalogue sizes past ~100k datasets use the
  bucketed resume sink (``plans/resume.py``) instead — one directory per
  dataset does not scale to a billion datasets.
- ``manifest/`` — one row per catalogue with the ordered identifier list
  (duplicates preserved, reference J4/A3 semantics).
- ``warnings/`` — duplicate identifiers (warn-only, nothing dropped).
- ``metrics/`` — per-partition lineage rows for parse/split/render.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import uuid
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

_EXT_FORMAT = {
    ".nt": "nt",
    ".nq": "nq",
    ".ttl": "ttl",
    ".trig": "trig",
    ".rdf": "rdfxml",
    ".rdfs": "rdfxml",
    ".xml": "rdfxml",
    ".jsonld": "jsonld",
}
FORMATS = ("nt", "nq", "ttl", "trig", "rdfxml", "jsonld", "jsonld-doc")


def detect_format(path: str) -> str:
    """File-extension syntax detection (``.gz`` transparent), the CLI
    analog of the reference's content-type negotiation."""
    p = path[:-3] if path.endswith(".gz") else path
    ext = os.path.splitext(p)[1].lower()
    if ext not in _EXT_FORMAT:
        raise SystemExit(
            f"cannot infer RDF syntax from '{ext}' — pass --format "
            f"{'|'.join(FORMATS)}"
        )
    return _EXT_FORMAT[ext]


def load_triples(spark, path: str, fmt: str, pre: bool, keep_malformed: bool):
    """Parse ``path`` as ``fmt`` → statement rows (PARSED_SCHEMA).

    N-Quads / TriG graph labels are dropped after parse: the split
    operates on the merged default graph, same as the reference loading
    everything into one Jena model.
    """
    from pyspark.sql import functions as F

    from bop_consus_importing_rdf_spark.sources.rdf_io import (
        parse_nquads,
        parse_ntriples,
        pre_process,
        pre_process_controls,
        pre_process_iri_spaces,
        read_rdf_source,
    )

    if fmt in ("nt", "nq", "jsonld"):
        lines = read_rdf_source(spark, path)
        if pre:
            lines = lines.select(pre_process(F.col("value")).alias("value"))
        if fmt == "nt":
            return parse_ntriples(lines, keep_malformed=keep_malformed)
        if fmt == "nq":
            return parse_nquads(lines, keep_malformed=keep_malformed).drop(
                "graph"
            )
        from bop_consus_importing_rdf_spark.sources.jsonld_io import (
            parse_jsonld,
        )

        return parse_jsonld(lines, keep_malformed=keep_malformed)

    # whole-document syntaxes, one document per file (Turtle and TriG go
    # through statement re-assembly: real dumps use `;`/`,` lists,
    # multi-line statements, [...] / (...) and @base). The per-document
    # model matches the reference (Jena reads one document in one thread,
    # Flows.kt:66-77): corpus parallelism is ACROSS files, and a single
    # document past rdf_io.MAX_DOC_BYTES raises — split such dumps first.
    if pre and fmt not in ("ttl", "trig"):
        raise SystemExit(
            "--pre-process is not supported for RDF/XML or compact "
            "JSON-LD input (the space-in-IRI fix-up would corrupt XML "
            "attribute spacing / JSON punctuation)"
        )
    # a whole document gets ONLY the character-local half of the
    # pre-process (BOM/control strip): the space-in-IRI %-encode pairs the
    # nearest <...> brackets, which across a multi-statement document can
    # fuse a '<' inside one literal with a '>' in a later IRI and rewrite
    # literal content across statement boundaries. It runs line-scoped,
    # on each re-assembled statement before the normalizer's checkpoint.
    value = pre_process_controls(F.col("value")) if pre else F.col("value")
    transform = pre_process_iri_spaces if pre else None
    # EACH DOCUMENT's own address is its base IRI, exactly the reference's
    # JenaUtils.read(content, contentType, address) at Flows.kt:69: with a
    # directory input, a per-path base would resolve every file's relative
    # IRIs against the directory URI (RFC 3986 strips the last segment),
    # silently mis-addressing them. input_file_name() is the per-row file
    # URI; the whole-path base stays as the fallback for sources where it
    # is empty.
    docs = spark.read.text(path, wholetext=True).select(
        value.alias("value"), F.input_file_name().alias("_src")
    )
    bases = {"base_iri": input_base_iri(path), "base_iri_col": "_src"}
    if fmt == "ttl":
        from bop_consus_importing_rdf_spark.sources.turtle_io import (
            normalize_turtle_docs,
            parse_turtle,
        )

        lines = normalize_turtle_docs(
            docs, "value", line_transform=transform, **bases
        )
        return parse_turtle(lines, keep_malformed=keep_malformed)
    if fmt == "trig":
        from bop_consus_importing_rdf_spark.sources.turtle_io import (
            parse_trig_docs,
        )

        return parse_trig_docs(
            docs, "value", keep_malformed=keep_malformed,
            line_transform=transform, **bases,
        ).drop("graph")
    if fmt == "jsonld-doc":
        # compact-form JSON-LD documents (inline @context); the
        # line-oriented "jsonld" format remains the flattened
        # one-statement-per-line form our serializer emits
        from bop_consus_importing_rdf_spark.sources.jsonld_io import (
            parse_jsonld_docs as parse,
        )
    else:  # rdfxml
        from bop_consus_importing_rdf_spark.functions.rdfxml import (
            parse_rdfxml as parse,
        )
    return parse(docs, "value", keep_malformed=keep_malformed, **bases)


def input_base_iri(path: str) -> str:
    """An input path as its base IRI (the reference passes the request
    address as the parse base, ``Flows.kt:69``): a URI (``scheme://…``)
    as it is, a local path as a ``file://`` URI."""
    return path if "://" in path else Path(path).resolve().as_uri()


def run_harvest(
    spark,
    input_path: str,
    output: str,
    catalogue: str = "catalogue",
    fmt: str = "auto",
    pre: bool = False,
    remove_prefix: bool = False,
    precedence_uri_ref: bool = False,
    keep_malformed: bool = False,
    bucket_threshold_bytes: int | None = 256 << 20,
    n_buckets: int = 64,
    resume: bool = False,
    datasets_layout: str = "auto",
) -> dict:
    """The full harvest DAG; returns summary counts (also printed by the
    CLI). Separated from ``main`` so tests drive it in-process.

    **Production triple layout** (the 100-TB split path): when the source
    is at least ``bucket_threshold_bytes``, the parse output is LANDED as
    a bucketed-by-``subj`` external table at ``{output}/triples`` instead
    of an executor-memory cache. Every downstream subj-keyed consumer —
    the closure's edge probes and the subgraph extraction join
    (``operators/split.py``), plus any later re-harvest reading the
    committed artifact — then scans pre-hashed buckets, so once the
    closure side is past the broadcast threshold the statement table is
    never exchanged (plan-asserted by ``test_bucketed.py``). The table
    doubles as the parse stage's durable checkpoint: a resumed run can
    skip the parse entirely. The checkpoint only survives a PASSED
    reject gate — on gate failure the table and its files are removed
    before the raise — and under ``--keep-malformed`` it intentionally
    includes the reject rows (``obj_kind`` NULL) for lineage. Below the threshold the in-memory cache is
    strictly cheaper (no write amplification for a catalogue that fits in
    one executor's memory); ``None`` disables the bucketed branch."""
    from pyspark.sql import functions as F

    from bop_consus_importing_rdf_spark.functions.ntriples import nt_line
    from bop_consus_importing_rdf_spark.operators.closure import (
        release_checkpoints,
    )
    from bop_consus_importing_rdf_spark.operators.manifest import (
        duplicate_warnings,
        manifest,
        with_counter,
    )
    from bop_consus_importing_rdf_spark.operators.parallelism import (
        UNKNOWN_SIZE,
        plan_size_bytes,
    )
    from bop_consus_importing_rdf_spark.operators.split import split_datasets
    from bop_consus_importing_rdf_spark.plans.lineage import (
        stage_metrics,
        union_metrics,
    )
    from bop_consus_importing_rdf_spark.plans.resume import hadoop_path
    from bop_consus_importing_rdf_spark.sources.bucketed import write_bucketed

    if fmt == "auto":
        fmt = detect_format(input_path)
    run_id = uuid.uuid4().hex[:12]

    resumed = False
    if resume:
        # Resume from the committed parse artifact: read {output}/triples
        # instead of re-parsing the source. Within the writing session the
        # catalog still carries the bucket spec; a NEW session reads the
        # same files as plain parquet (the in-memory catalog does not
        # survive restarts without a Hive metastore) — the parse work is
        # skipped either way, which is the expensive part.
        fs, p = hadoop_path(spark, f"{output}/triples")
        if fs.exists(p):
            parsed = spark.read.parquet(f"{output}/triples")
            resumed = True
    if not resumed:
        parsed = load_triples(
            spark, input_path, fmt, pre, keep_malformed=True
        )
    src_bytes = 0 if resumed else plan_size_bytes(parsed)
    bucketed_table = None
    # a resumed run must NEVER re-enter the bucketed write: it would
    # overwrite {output}/triples from a plan that READS those same files
    if (
        not resumed
        and bucket_threshold_bytes is not None
        and src_bytes != UNKNOWN_SIZE
        and src_bytes >= bucket_threshold_bytes
    ):
        bucketed_table = f"harvest_triples_{run_id}"
        write_bucketed(
            parsed, bucketed_table, bucket_col="subj", n_buckets=n_buckets,
            path=f"{output}/triples",
        )
        parsed = spark.table(bucketed_table)
    else:
        parsed = parsed.cache()
    # one aggregate counts both the rejects and the statements they leave
    gate = parsed.agg(
        F.count_if(F.col("obj_kind").isNull()).alias("n_rejects"),
        F.count("obj_kind").alias("n_statements"),
    ).first()
    n_rejects = gate["n_rejects"]
    if n_rejects and not keep_malformed:
        # reference behavior: a parse error fails the pipe with context
        # (Flows.kt:75-77); --keep-malformed downgrades to counted rejects.
        # A failed gate must not leave the bucketed table behind posing as
        # a valid durable checkpoint — drop it AND its external files.
        if bucketed_table is not None:
            spark.sql(f"DROP TABLE IF EXISTS {bucketed_table}")
            fs, p = hadoop_path(spark, f"{output}/triples")
            fs.delete(p, True)
        hint = ""
        if fmt == "jsonld":
            # the line format expects one flattened statement object per
            # line; a compact document (inline @context, multi-line JSON)
            # rejects on every line — point at the document format
            hint = (
                " (a compact JSON-LD document with @context needs "
                "--format jsonld-doc)"
            )
        raise SystemExit(
            f"{n_rejects} unparseable statement(s) in {input_path} "
            f"(format {fmt}){hint} — rerun with --keep-malformed to "
            f"continue and count them in metrics"
        )
    triples = parsed.filter(F.col("obj_kind").isNotNull())

    # the input is ALWAYS materialized here — a bucketed/resumed table or
    # the in-memory cache above — as split_datasets requires
    checkpoints: list = []
    ds_triples, datasets = split_datasets(
        triples, remove_prefix, precedence_uri_ref, checkpoints
    )
    counted = with_counter(
        datasets.withColumn("catalogue", F.lit(catalogue))
    ).cache()
    # fills the cache; every dataset_id in ds_triples is a counted dataset,
    # so the n_triples sum is ds_triples' row count
    totals = counted.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_triples").alias("n_triples")
    ).first()
    n_datasets = totals["n"]

    rendered = ds_triples.select(
        "dataset_id",
        nt_line(
            F.col("subj"), F.col("pred"), F.col("obj_value"),
            F.col("obj_kind"), F.col("obj_lang"), F.col("obj_datatype"),
        ).alias("value"),
    )
    # Datasets sink layout: one text directory per dataset is the
    # CLI-friendly shape (the reference forwards one payload per dataset,
    # ImportingRdfVerticle.kt:90-94) but a filesystem-metadata storm past
    # ~20k datasets — 150k datasets at sf1 means 150k directories of tiny
    # files, and a billion datasets is impossible. `auto` keys on the
    # actual dataset count (already computed for the manifest): above the
    # threshold the payload lands as ONE parquet dataset keyed by the
    # `dataset_id` column — consumers predicate-push on it, and the row
    # count per file stays balanced regardless of dataset skew.
    if datasets_layout == "auto":
        datasets_layout = "partitioned" if n_datasets <= 20_000 else "parquet"
    if datasets_layout == "partitioned":
        rendered.write.mode("overwrite").partitionBy("dataset_id").text(
            f"{output}/datasets"
        )
    else:
        rendered.write.mode("overwrite").parquet(f"{output}/datasets")
    manifest(counted).write.mode("overwrite").json(f"{output}/manifest")
    duplicate_warnings(counted).write.mode("overwrite").json(
        f"{output}/warnings"
    )
    metrics = union_metrics(
        [
            stage_metrics(triples, run_id, "parse"),
            stage_metrics(ds_triples, run_id, "split"),
            stage_metrics(counted, run_id, "datasets"),
        ]
    )
    metrics.write.mode("overwrite").parquet(f"{output}/metrics")
    release_checkpoints(checkpoints)

    summary = {
        "run_id": run_id,
        "format": fmt,
        "resumed": resumed,
        "n_statements": gate["n_statements"],
        "n_rejects": n_rejects,
        "n_datasets": n_datasets,
        "n_dataset_statements": totals["n_triples"] or 0,
        "datasets_layout": datasets_layout,
    }
    parsed.unpersist()
    counted.unpersist()
    return summary


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--catalogue", default="catalogue")
    ap.add_argument("--format", default="auto", choices=("auto",) + FORMATS)
    ap.add_argument("--pre-process", action="store_true",
                    help="BOM/control/space-in-IRI fix-ups before parse "
                         "(reference preProcessing flag)")
    ap.add_argument("--remove-prefix", action="store_true")
    ap.add_argument("--precedence-uri-ref", action="store_true")
    ap.add_argument("--keep-malformed", action="store_true",
                    help="keep reject rows in metrics instead of failing")
    ap.add_argument("--bucket-threshold-mb", type=int, default=256,
                    help="land the parsed triples as a bucketed-by-subj "
                         "table at OUTPUT/triples when the source is at "
                         "least this big (0 = always, -1 = never)")
    ap.add_argument("--n-buckets", type=int, default=64,
                    help="bucket count for the landed triple table — size "
                         "for the target cluster, not this job")
    ap.add_argument("--resume", action="store_true",
                    help="skip the parse when OUTPUT/triples exists from a "
                         "previous committed run")
    ap.add_argument("--datasets-layout", default="auto",
                    choices=("auto", "partitioned", "parquet"),
                    help="datasets sink: one text dir per dataset "
                         "(CLI-friendly, <=20k datasets) or one parquet "
                         "dataset keyed by dataset_id (scale); auto picks "
                         "by dataset count")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active
    else:
        from bop_consus_importing_rdf_spark.session import get_spark

        spark = get_spark("harvest")
    spark.sparkContext.setLogLevel("WARN")

    t0 = time.perf_counter()
    thresh = {0: 0, -1: None}.get(
        args.bucket_threshold_mb, args.bucket_threshold_mb * (1 << 20)
    )
    summary = run_harvest(
        spark, args.input, args.output, args.catalogue, args.format,
        args.pre_process, args.remove_prefix, args.precedence_uri_ref,
        args.keep_malformed,
        bucket_threshold_bytes=thresh, n_buckets=args.n_buckets,
        resume=args.resume, datasets_layout=args.datasets_layout,
    )
    summary["wall_sec"] = round(time.perf_counter() - t0, 3)
    print(summary)


if __name__ == "__main__":
    main()
