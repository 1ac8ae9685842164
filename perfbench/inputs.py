"""Seeded input generation for the three workloads.

Every input is made here from ``--seed`` alone; the program under test only
ever sees the files written into the run's work directory. Generation runs
in this process (NumPy + DuckDB, no Spark), before the measured worker
starts, so it never counts towards ``setup_s``.

Three generators:

- ``transcripts``: the ``kg/synth.py`` recipe re-spelled with NumPy so it
  runs without a Spark session — 1% hot 400-turn conversations, 4-12 turns
  otherwise, ~20% of turns without a mention, ~10% carrying ``ESCAPE_TAIL``
  (every N-Triples escape), rows physically shuffled.
- ``dcat``: a TPC-H-shaped ``orders/customer/nation/region`` quartet,
  turned into the fixture DCAT graph by ``oracle.RDF_GRAPH_SQL`` and
  rendered with ``functions.ntriples.sql_nt_line`` into one ``.nt`` dump.
- ``deep``: a catalogue of deep blank-node distribution chains, shared
  publisher subgraphs, cycles back to the dataset root and nested
  ``dcat:Catalog`` subtrees. The generator knows each dataset's expected
  statement count, which is the output check.

Some generation code belongs to the program (the alias gazetteer,
``ESCAPE_TAIL``, ``RDF_GRAPH_SQL``, ``sql_nt_line``). A change there would
silently change the workload, so :func:`check_pins` regenerates a small
canary of each input with seed 0 and compares its digest with
``pins.json``; a mismatch stops the run. ``python3 perfbench/inputs.py
--pin`` rewrites the pins after a deliberate change.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PINS = Path(__file__).resolve().parent / "pins.json"

# workload input sizes: a run has about a minute for session set-up, a
# full-size warm-up job and two measured jobs. Job time here is fixed
# per-Spark-job latency more than data volume; the transcripts are sized
# so executor work dilutes the driver's jitter (perfbench/BASELINE.md)
SIZES = {
    "transcripts": {"n_conv": 10_000},
    "dcat": {"n_orders": 10_000},
    "deep": {"n_datasets": 100},
}
CANARY = {
    "transcripts": {"n_conv": 40},
    "dcat": {"n_orders": 300},
    "deep": {"n_datasets": 30},
}

DEEP_NS = "http://deep.example/"
_EX = DEEP_NS + "p/"


def _sha256(path: Path) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


# ---------------------------------------------------------------------------
# transcripts (kg_transcripts)
# ---------------------------------------------------------------------------


def make_transcripts(out_dir: Path, seed: int, n_conv: int) -> dict:
    """Write ``transcripts.parquet`` (conv_id, turn_idx, role, text, tool,
    ts) and return its record."""
    from bop_consus_importing_rdf_spark.kg.synth import (
        _EPOCH0,
        ESCAPE_TAIL,
        alias_rows,
    )

    rng = np.random.default_rng([seed, 1])
    aliases = sorted({a for a, _, _ in alias_rows()})
    n_turns = np.where(
        np.arange(n_conv) % 100 == 0, 400, rng.integers(4, 13, n_conv)
    )
    conv = np.repeat(np.arange(n_conv), n_turns)
    turn = np.concatenate([np.arange(n) for n in n_turns])
    n = len(conv)
    a = rng.integers(0, len(aliases), n)
    b = rng.integers(0, len(aliases), n)
    year = rng.integers(1995, 2025, n)
    no_mention = rng.random(n) < 0.2
    escaped = rng.random(n) < 0.1
    tools = rng.integers(0, 4, n)
    texts = [
        (
            f"nothing to report in {year[i]}"
            if no_mention[i]
            else f"{aliases[a[i]]} released {aliases[b[i]]} in {year[i]}"
        )
        + (ESCAPE_TAIL if escaped[i] else "")
        for i in range(n)
    ]
    roles = np.array(["user", "assistant", "tool"])[turn % 3]
    tool_names = np.array(["search", "code", "browse", "calc"])[tools]
    ts = (_EPOCH0 + conv * 3600 + turn * 30).astype("datetime64[s]")
    order = rng.permutation(n)  # physical shuffle
    table = pa.table(
        {
            "conv_id": pa.array([f"conv-{c:06d}" for c in conv[order]]),
            "turn_idx": pa.array(turn[order], pa.int32()),
            "role": pa.array(roles[order]),
            "text": pa.array([texts[i] for i in order]),
            "tool": pa.array(
                [
                    str(tool_names[i]) if roles[i] == "tool" else None
                    for i in order
                ],
                pa.string(),
            ),
            "ts": pa.array(ts[order], pa.timestamp("us", tz="UTC")),
        }
    )
    path = out_dir / "transcripts.parquet"
    pq.write_table(table, path, row_group_size=1 << 16)
    return {
        "path": str(path),
        "bytes": path.stat().st_size,
        "sha256": _sha256(path),
        "units": n,
        "unit": "turns",
        "rows": {"conversations": n_conv, "turns": n},
    }


# ---------------------------------------------------------------------------
# DCAT dump (harvest_dcat)
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def make_tpch_tables(out_dir: Path, seed: int, n_orders: int) -> dict:
    """The four TPC-H tables ``RDF_GRAPH_SQL`` reads, with TPC-H's sparse
    order keys and ~10 orders per customer. Returns ``{table: path}``."""
    rng = np.random.default_rng([seed, 2])
    n_cust = max(1, n_orders // 10)
    keys = np.sort(rng.choice(4 * n_orders, n_orders, replace=False) + 1)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int64()),
                "r_name": pa.array(_REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int64()),
                "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int64()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(range(1, n_cust + 1), pa.int64()),
                "c_name": pa.array(
                    [f"Customer#{i:09d}" for i in range(1, n_cust + 1)]
                ),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(keys, pa.int64()),
                "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders)),
                "o_orderstatus": pa.array(
                    np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]
                ),
                "o_totalprice": pa.array(
                    np.round(rng.uniform(850.0, 560000.0, n_orders), 2)
                ),
                "o_orderpriority": pa.array(
                    np.array(_PRIORITIES)[rng.integers(0, 5, n_orders)]
                ),
            }
        ),
    }
    paths = {}
    for name, table in tables.items():
        paths[name] = str(out_dir / f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


def duck_with_tables(paths: dict):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, path in paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _write_lines(path: Path, lines) -> int:
    n = 0
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for (line,) in lines:
            f.write(line)
            f.write("\n")
            n += 1
    return n


def make_dcat(out_dir: Path, seed: int, n_orders: int) -> dict:
    """Write the TPC-H tables and ``catalogue.nt`` (the fixture DCAT graph
    rendered as one N-Triples dump, rows in a seeded order)."""
    from bop_consus_importing_rdf_spark.functions.ntriples import sql_nt_line
    from bop_consus_importing_rdf_spark.oracle import RDF_GRAPH_SQL

    tables = make_tpch_tables(out_dir, seed, n_orders)
    con = duck_with_tables(tables)
    rows = con.execute(
        f"WITH graph AS ({RDF_GRAPH_SQL}) SELECT {sql_nt_line()} AS line "
        f"FROM graph ORDER BY md5(line || '{seed}'), line"
    ).fetchall()
    path = out_dir / "catalogue.nt"
    n = _write_lines(path, rows)
    n_ds = con.execute(
        f"WITH graph AS ({RDF_GRAPH_SQL}) SELECT count(DISTINCT subj) FROM graph "
        "WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' "
        "AND obj_value = 'http://www.w3.org/ns/dcat#Dataset'"
    ).fetchone()[0]
    con.close()
    return {
        "path": str(path),
        "tables": tables,
        "bytes": path.stat().st_size,
        "sha256": _sha256(path),
        "units": n,
        "unit": "statements",
        "rows": {"orders": n_orders, "statements": n, "dataset_subjects": n_ds},
    }


# ---------------------------------------------------------------------------
# deep catalogue (harvest_deep)
# ---------------------------------------------------------------------------

PUBLISHER_DEPTH = 7


def deep_triples(seed: int, n_datasets: int):
    """The deep catalogue as statement tuples ``(subj, pred, obj_value,
    obj_kind, obj_lang, obj_datatype)`` plus ``{dataset_iri: (identifier,
    expected_statement_count)}``.

    Per dataset ``d``: an IRI root typed ``dcat:Dataset`` with an
    identifier and a title; a blank-node distribution chain 2-16 hops
    deep; a link to one of ``n_datasets // 25`` shared publisher subgraphs,
    each a 7-hop IRI chain; in 1 dataset of 7 the chain's last node links
    back to the root (a cycle); in 1 of 10 the root links a nested
    ``dcat:Catalog`` whose own subtree the split subtracts.
    """
    from bop_consus_importing_rdf_spark.kg.synth import ESCAPE_TAIL
    from bop_consus_importing_rdf_spark.vocab import (
        DCAT_CATALOG,
        DCAT_DATASET,
        DCAT_NS,
        DCT_IDENTIFIER,
        DCT_NS,
        RDF_TYPE,
    )

    rng = np.random.default_rng([seed, 3])
    n_pub = max(1, n_datasets // 25)
    triples: list[tuple] = []

    def iri(s, p, o):
        triples.append((s, p, o, "iri", None, None))

    def lit(s, p, o, lang=None):
        triples.append((s, p, o, "literal", lang, None))

    pub_stmts = 0
    for p in range(n_pub):
        for j in range(PUBLISHER_DEPTH):
            node = f"{DEEP_NS}pub/{p}/n{j}"
            lit(node, _EX + "name", f"publisher {p} level {j}", "en")
            pub_stmts += 1
            if j + 1 < PUBLISHER_DEPTH:
                iri(node, _EX + "parent", f"{DEEP_NS}pub/{p}/n{j + 1}")
                pub_stmts += 1

    depths = rng.integers(2, 17, n_datasets)
    pubs = rng.integers(0, n_pub, n_datasets)
    escaped = rng.random(n_datasets) < 0.1
    expected = {}
    for d in range(n_datasets):
        root = f"{DEEP_NS}ds/{d}"
        ident = f"deep-{d}"
        before = len(triples)
        iri(root, RDF_TYPE, DCAT_DATASET)
        lit(root, DCT_IDENTIFIER, ident)
        lit(root, DCT_NS + "title",
            f"dataset {d}" + (ESCAPE_TAIL if escaped[d] else ""))
        iri(root, DCT_NS + "publisher", f"{DEEP_NS}pub/{pubs[d]}/n0")
        chain = [f"_:d{d}c{i}" for i in range(depths[d])]
        triples.append((root, DCAT_NS + "distribution", chain[0], "bnode",
                        None, None))
        for i, node in enumerate(chain):
            lit(node, _EX + "label", f"part {i} of {d}")
            if i + 1 < len(chain):
                triples.append((node, _EX + "next", chain[i + 1], "bnode",
                                None, None))
        if d % 7 == 3:
            iri(chain[-1], _EX + "back", root)
        if d % 10 == 5:
            cat = f"{DEEP_NS}cat/{d}"
            iri(root, _EX + "inCatalog", cat)
            n_kept = len(triples) - before
            # the nested catalogue's subtree: subtracted from the dataset
            iri(cat, RDF_TYPE, DCAT_CATALOG)
            lit(cat, DCT_NS + "title", f"catalogue of {d}")
            triples.append((cat, _EX + "part", f"_:k{d}", "bnode", None, None))
            lit(f"_:k{d}", _EX + "label", f"catalogue part of {d}")
        else:
            n_kept = len(triples) - before
        expected[root] = (ident, n_kept + pub_stmts // n_pub)
    order = rng.permutation(len(triples))
    return [triples[i] for i in order], expected


def make_deep(out_dir: Path, seed: int, n_datasets: int) -> dict:
    """Write ``deep.nt`` and return its record, including the expected
    per-dataset ``(identifier, n_triples)``."""
    import duckdb

    from bop_consus_importing_rdf_spark.functions.ntriples import sql_nt_line

    triples, expected = deep_triples(seed, n_datasets)
    cols = list(zip(*triples))
    table = pa.table(
        {
            name: pa.array(col, pa.string())
            for name, col in zip(
                ("subj", "pred", "obj_value", "obj_kind", "obj_lang",
                 "obj_datatype"),
                cols,
            )
        }
    ).append_column("pos", pa.array(range(len(triples)), pa.int64()))
    con = duckdb.connect()
    con.register("graph", table)
    rows = con.execute(
        f"SELECT {sql_nt_line()} AS line FROM graph ORDER BY pos"
    ).fetchall()
    con.close()
    path = out_dir / "deep.nt"
    n = _write_lines(path, rows)
    return {
        "path": str(path),
        "bytes": path.stat().st_size,
        "sha256": _sha256(path),
        "units": n,
        "unit": "statements",
        "expected": expected,
        "rows": {
            "statements": n,
            "datasets": n_datasets,
            "dataset_statements": sum(c for _, c in expected.values()),
        },
    }


GENERATORS = {
    "transcripts": make_transcripts,
    "dcat": make_dcat,
    "deep": make_deep,
}


def make(kind: str, out_dir: Path, seed: int, canary: bool = False) -> dict:
    out_dir.mkdir(parents=True, exist_ok=True)
    size = (CANARY if canary else SIZES)[kind]
    return GENERATORS[kind](out_dir, seed, **size)


def canary_digests(work: Path) -> dict:
    return {
        kind: make(kind, work / f"canary_{kind}", 0, canary=True)["sha256"]
        for kind in GENERATORS
    }


def check_pins(kind: str, work: Path) -> None:
    """Stop the run when the program-side generation code has changed the
    inputs: the seed-0 canary of ``kind`` must hash to its pinned digest."""
    pinned = json.loads(PINS.read_text())[kind]
    canary = make(kind, work / f"canary_{kind}", 0, canary=True)
    got = canary["sha256"]
    if got != pinned:
        raise SystemExit(
            f"perfbench: the {kind} input generator drifted (canary sha256 "
            f"{got} != pinned {pinned}); program code used for input "
            "generation changed the workload. Re-pin deliberately with "
            "`python3 perfbench/inputs.py --pin` in a benchmark-only change."
        )


if __name__ == "__main__":
    if sys.argv[1:] != ["--pin"]:
        raise SystemExit("usage: python3 perfbench/inputs.py --pin")
    sys.path.insert(0, os.getcwd())
    import tempfile

    with tempfile.TemporaryDirectory(dir=".") as tmp:
        PINS.write_text(json.dumps(canary_digests(Path(tmp)), indent=2) + "\n")
    print(PINS.read_text())
