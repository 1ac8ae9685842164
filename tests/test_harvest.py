"""End-to-end harvester CLI flow: file → parse → split → render → manifest.

Drives ``harvest.run_harvest`` in-process over real files rendered from the
sf0.001 fixture graph, in two syntaxes, and checks the outputs against the
in-memory split of the same graph.
"""

from __future__ import annotations

import gzip
import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from harvest import detect_format, run_harvest

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def graph(spark):
    from bop_consus_importing_rdf_spark.oracle import _graph

    return _graph(spark, SF_DIR)


def test_detect_format():
    assert detect_format("/x/dump.ttl") == "ttl"
    assert detect_format("/x/dump.nt.gz") == "nt"
    assert detect_format("/x/dump.rdf") == "rdfxml"
    with pytest.raises(SystemExit):
        detect_format("/x/dump.csv")


def _expected(spark, graph):
    from bop_consus_importing_rdf_spark.operators.split import split_datasets

    ds_triples, datasets = split_datasets(graph)
    return ds_triples.count(), datasets.count()


def test_harvest_nt_gz(spark, tmp_path, graph):
    """Gzipped N-Triples in → per-dataset payloads + manifest out, counts
    matching the in-memory split of the same graph."""
    from bop_consus_importing_rdf_spark.functions.ntriples import nt_line

    lines = graph.select(
        nt_line(
            F.col("subj"), F.col("pred"), F.col("obj_value"),
            F.col("obj_kind"), F.col("obj_lang"), F.col("obj_datatype"),
        ).alias("line")
    ).collect()
    src = tmp_path / "dump.nt.gz"
    with gzip.open(src, "wt", encoding="utf-8") as f:
        for r in lines:
            f.write(r.line + "\n")

    out = str(tmp_path / "out")
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    summary = run_harvest(spark, str(src), out, catalogue="cat-a")
    # the parse cache, `counted` and every checkpoint of the split are freed
    assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) <= before
    exp_stmts, exp_datasets = _expected(spark, graph)

    assert summary["format"] == "nt"
    assert summary["n_rejects"] == 0
    assert summary["n_statements"] == graph.count()
    assert summary["n_datasets"] == exp_datasets
    assert summary["n_dataset_statements"] == exp_stmts

    # the rendered payloads really are partitioned per dataset
    part_dirs = [p for p in Path(out, "datasets").iterdir() if p.is_dir()]
    assert len(part_dirs) == exp_datasets

    # manifest: one catalogue row, identifier list length == dataset count
    man = [
        json.loads(ln)
        for p in Path(out, "manifest").glob("*.json")
        for ln in p.read_text().splitlines()
    ]
    assert len(man) == 1 and man[0]["catalogue"] == "cat-a"
    assert len(man[0]["identifiers"]) == exp_datasets

    # metrics cover all three stages
    stages = {
        r.stage
        for r in spark.read.parquet(f"{out}/metrics").select("stage").collect()
    }
    assert stages == {"parse", "split", "datasets"}


def test_harvest_parquet_datasets_layout(spark, tmp_path, graph):
    """``datasets_layout='parquet'`` (auto-selected past 20k datasets —
    1.5M datasets at sf1 would mean 1.5M directories under the partitioned
    text sink) lands the payload as ONE parquet dataset keyed by
    ``dataset_id``, same rows as the partitioned layout."""
    from bop_consus_importing_rdf_spark.functions.ntriples import nt_line

    lines = graph.select(
        nt_line(
            F.col("subj"), F.col("pred"), F.col("obj_value"),
            F.col("obj_kind"), F.col("obj_lang"), F.col("obj_datatype"),
        ).alias("line")
    ).collect()
    src = tmp_path / "dump.nt"
    src.write_text("\n".join(r.line for r in lines) + "\n", encoding="utf-8")

    out = str(tmp_path / "out_pq")
    summary = run_harvest(
        spark, str(src), out, catalogue="cat-pq", datasets_layout="parquet"
    )
    exp_stmts, exp_datasets = _expected(spark, graph)
    assert summary["datasets_layout"] == "parquet"
    got = spark.read.parquet(f"{out}/datasets")
    assert set(got.columns) == {"dataset_id", "value"}
    assert got.count() == exp_stmts
    assert got.select("dataset_id").distinct().count() == exp_datasets


def test_harvest_malformed_gate(spark, tmp_path):
    """Default: parse errors fail the run with a count (reference rethrow,
    Flows.kt:75-77); --keep-malformed downgrades them to counted rejects."""
    src = tmp_path / "bad.nt"
    src.write_text(
        "<urn:s> <urn:p> <urn:o> .\n"
        "this line is not a statement\n",
        encoding="utf-8",
    )
    with pytest.raises(SystemExit, match="1 unparseable"):
        run_harvest(spark, str(src), str(tmp_path / "o1"))
    summary = run_harvest(
        spark, str(src), str(tmp_path / "o2"), keep_malformed=True
    )
    assert summary["n_rejects"] == 1
    assert summary["n_statements"] == 1


def test_harvest_ttl_matches_nt(spark, tmp_path, graph):
    """The same graph harvested from a TURTLE file produces the same
    dataset count and statement count — syntax-independence of the DAG."""
    from bop_consus_importing_rdf_spark.oracle import SPARK_QUERIES

    ttl = SPARK_QUERIES["ttl_render"](spark, SF_DIR).collect()
    src = tmp_path / "dump.ttl"
    src.write_text("\n".join(r.line for r in ttl) + "\n", encoding="utf-8")

    out = str(tmp_path / "out_ttl")
    summary = run_harvest(spark, str(src), out)
    exp_stmts, exp_datasets = _expected(spark, graph)
    assert summary["format"] == "ttl"
    assert summary["n_rejects"] == 0
    assert summary["n_statements"] == graph.count()
    assert summary["n_datasets"] == exp_datasets
    assert summary["n_dataset_statements"] == exp_stmts


def test_harvest_trig_matches_nt(spark, tmp_path, graph):
    """The same graph harvested from one TRIG file (multiple graph
    blocks, full-grammar doc path since r5) produces the same dataset and
    statement counts — graph labels merge into the default graph like the
    reference loading everything into one Jena model."""
    from bop_consus_importing_rdf_spark.oracle import SPARK_QUERIES

    from bop_consus_importing_rdf_spark.functions.formats import (
        prefix_directives,
    )

    docs = SPARK_QUERIES["trig_render"](spark, SF_DIR).collect()
    src = tmp_path / "dump.trig"
    src.write_text(
        "\n".join(prefix_directives())
        + "\n"
        + "\n".join(r.trig for r in docs)
        + "\n",
        encoding="utf-8",
    )

    out = str(tmp_path / "out_trig")
    summary = run_harvest(spark, str(src), out)
    exp_stmts, exp_datasets = _expected(spark, graph)
    assert summary["format"] == "trig"
    assert summary["n_rejects"] == 0
    assert summary["n_statements"] == graph.count()
    assert summary["n_datasets"] == exp_datasets
    assert summary["n_dataset_statements"] == exp_stmts


def test_harvest_bucketed_triple_landing(spark, tmp_path, graph):
    """Forcing the bucketed branch (threshold 0) lands the parse output as
    a bucketed-by-subj external table at OUTPUT/triples and produces the
    same split results as the in-memory-cache branch."""
    from bop_consus_importing_rdf_spark.functions.ntriples import nt_line

    lines = graph.select(
        nt_line(
            F.col("subj"), F.col("pred"), F.col("obj_value"),
            F.col("obj_kind"), F.col("obj_lang"), F.col("obj_datatype"),
        ).alias("line")
    ).collect()
    src = tmp_path / "dump.nt"
    src.write_text("".join(r.line + "\n" for r in lines), encoding="utf-8")

    out = str(tmp_path / "out_bucketed")
    summary = run_harvest(
        spark, str(src), out, catalogue="cat-a",
        bucket_threshold_bytes=0, n_buckets=8,
    )
    exp_stmts, exp_datasets = _expected(spark, graph)
    assert summary["n_rejects"] == 0
    assert summary["n_statements"] == graph.count()
    assert summary["n_datasets"] == exp_datasets
    assert summary["n_dataset_statements"] == exp_stmts

    # the landed table is real, external at OUTPUT/triples, and bucketed
    table = f"harvest_triples_{summary['run_id']}"
    assert spark.table(table).count() == graph.count()
    assert any(Path(out, "triples").glob("*.parquet"))
    desc = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }
    assert desc.get("Num Buckets") == "8"
    assert "subj" in desc.get("Bucket Columns", "")
    spark.sql(f"DROP TABLE {table}")


def test_harvest_real_world_style_ttl(spark, tmp_path, graph):
    """A hand-written real-world style .ttl — multi-line `;` lists, `,`
    object lists, comments, SPARQL PREFIX — harvests with zero rejects and
    the list statements fully expanded."""
    src = tmp_path / "catalogue.ttl"
    src.write_text(
        "@prefix dcat: <http://www.w3.org/ns/dcat#> .\n"
        "@prefix dct: <http://purl.org/dc/terms/> .\n"
        "PREFIX ex: <urn:p:>\n"
        "\n"
        "# one dataset, list-style\n"
        "<urn:ds:list> a dcat:Dataset ;\n"
        "    dct:identifier \"ds-list\" ;\n"
        "    ex:keyword \"alpha\" , \"beta\" , \"gamma\" ;\n"
        "    ex:note \"\"\"spans\nlines\"\"\" .\n"
        "\n"
        "<urn:ds:second> a dcat:Dataset ;\n"
        "    dct:identifier \"ds-second\" ;\n"
        "    ex:price 5.0 .\n",
        encoding="utf-8",
    )
    out = str(tmp_path / "out_ttl")
    summary = run_harvest(spark, str(src), out, catalogue="cat-ttl")
    assert summary["format"] == "ttl"
    assert summary["n_rejects"] == 0
    # 6 statements for ds:list (type + id + 3 keywords + note) + 3 for
    # ds:second
    assert summary["n_statements"] == 9
    assert summary["n_datasets"] == 2
    man = [
        json.loads(ln)
        for p in Path(out, "manifest").glob("*.json")
        for ln in p.read_text().splitlines()
    ]
    assert sorted(man[0]["identifiers"]) == ["ds-list", "ds-second"]


def test_harvest_resume_skips_parse(spark, tmp_path, graph):
    """A second run with resume=True reads the committed OUTPUT/triples
    artifact instead of the (now deleted) source, and produces identical
    split results."""
    from bop_consus_importing_rdf_spark.functions.ntriples import nt_line

    lines = graph.select(
        nt_line(
            F.col("subj"), F.col("pred"), F.col("obj_value"),
            F.col("obj_kind"), F.col("obj_lang"), F.col("obj_datatype"),
        ).alias("line")
    ).collect()
    src = tmp_path / "dump.nt"
    src.write_text("".join(r.line + "\n" for r in lines), encoding="utf-8")
    out = str(tmp_path / "out_resume")
    first = run_harvest(
        spark, str(src), out, catalogue="cat-a", bucket_threshold_bytes=0
    )
    assert not first["resumed"]
    spark.sql(f"DROP TABLE IF EXISTS harvest_triples_{first['run_id']}")
    src.unlink()  # the source is GONE — only the committed artifact remains
    second = run_harvest(
        spark, str(src), out, catalogue="cat-a",
        bucket_threshold_bytes=0, resume=True,
    )
    assert second["resumed"]
    for k in ("n_statements", "n_rejects", "n_datasets",
              "n_dataset_statements"):
        assert second[k] == first[k], k


def test_harvest_multi_file_dir_per_doc_bases_and_labels(spark, tmp_path):
    """With a DIRECTORY input, each file's relative IRIs resolve against
    that file's OWN address (input_file_name — the reference passes each
    document's address as baseUri, Flows.kt:69) in every document syntax,
    and synthesized bnode labels are document-scoped so bnode subtrees
    from different files can never merge in the combined triple table."""
    from harvest import load_triples

    d = tmp_path / "dumps"
    d.mkdir()
    doc = "<> <urn:p:self> \"{n}\" .\n<urn:s:{n}> <urn:p:dist> [ <urn:p:inner> \"{n}\" ] .\n"
    (d / "a.ttl").write_text(doc.format(n="a"), encoding="utf-8")
    (d / "b.ttl").write_text(doc.format(n="b"), encoding="utf-8")

    rows = load_triples(
        spark, str(d), "ttl", pre=False, keep_malformed=False
    ).collect()
    assert len(rows) == 6 and all(r.obj_kind is not None for r in rows)
    # <> resolved to each file's own URI, not the shared directory path
    selfs = sorted(
        r.subj for r in rows if r.pred == "urn:p:self"
    )
    assert selfs == [f"file://{d}/a.ttl", f"file://{d}/b.ttl"]
    # the two [...] subtrees got DISTINCT labels despite per-doc counters
    labels = {
        r.obj_value for r in rows if r.pred == "urn:p:dist"
    }
    assert len(labels) == 2 and all(l.startswith("_:tgen-") for l in labels)

    # the same relative self-reference in each other document syntax
    self_docs = {
        "trig": ('<> <urn:p:self> "{n}" .\n'
                 '<urn:g> {{ <urn:s:{n}> <urn:p:in> "{n}" . }}\n'),
        "rdfxml": (
            '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
            ' xmlns:p="urn:p:"><rdf:Description rdf:about="">'
            "<p:self>{n}</p:self></rdf:Description></rdf:RDF>"
        ),
        "jsonld-doc": '{{"@id": "", "urn:p:self": "{n}"}}',
    }
    for fmt, doc in self_docs.items():
        fd = tmp_path / f"dumps-{fmt}"
        fd.mkdir()
        for n in ("a", "b"):
            (fd / n).write_text(doc.format(n=n), encoding="utf-8")
        rows = load_triples(
            spark, str(fd), fmt, pre=False, keep_malformed=False
        ).collect()
        assert all(r.obj_kind is not None for r in rows), (fmt, rows)
        selfs = sorted(
            (r.subj, r.obj_value) for r in rows if r.pred == "urn:p:self"
        )
        assert selfs == [
            (f"file://{fd}/a", "a"), (f"file://{fd}/b", "b")
        ], (fmt, selfs)


def test_harvest_compact_jsonld_directory(spark, tmp_path):
    """--format jsonld-doc end-to-end: compact documents with inline
    @context parse into the same statement stream the splitter consumes;
    per-file documents keep their own doc-scoped bnode labels."""
    import json

    from harvest import load_triples

    in_dir = tmp_path / "jld"
    in_dir.mkdir()
    doc = {
        "@context": {
            "dcat": "http://www.w3.org/ns/dcat#",
            "dct": "http://purl.org/dc/terms/",
            "id": "@id",
            "type": "@type",
        },
        "@graph": [
            {
                "id": "urn:ds:1",
                "type": "dcat:Dataset",
                "dct:title": "First",
                "dcat:distribution": {
                    "type": "dcat:Distribution",
                    "dct:format": "CSV",
                },
            }
        ],
    }
    (in_dir / "a.jsonld").write_text(json.dumps(doc), encoding="utf-8")
    doc["@graph"][0]["id"] = "urn:ds:2"
    (in_dir / "b.jsonld").write_text(json.dumps(doc), encoding="utf-8")

    parsed = load_triples(
        spark, str(in_dir), "jsonld-doc", pre=False, keep_malformed=False
    )
    rows = parsed.collect()
    subjects = {r.subj for r in rows}
    assert "urn:ds:1" in subjects and "urn:ds:2" in subjects
    # the two files synthesize DISTINCT distribution bnode labels
    bnodes = {r.obj_value for r in rows
              if r.pred.endswith("distribution")}
    assert len(bnodes) == 2 and all(b.startswith("_:jgen-") for b in bnodes)
