"""Output checks: every execution's committed output against an oracle.

- ``harvest_dcat``: per-dataset ``(dataset_id, identifier, n_triples)``
  equals DuckDB ``ORACLES["split_datasets"]`` over the generated TPC-H
  tables, and the manifest lists the same identifiers in counter order.
- ``harvest_deep``: per-dataset ``(identifier, n_triples)`` equals what
  the generator built (``inputs.deep_triples``), and so does the manifest.
- ``kg_transcripts``: the union of the committed bucket triples equals
  ``oracle._e2e_oracle_sql`` with its ``VALUES`` corpus replaced by a
  read of the generated parquet (compared as a multiset fingerprint: row
  count and the sum of row hashes; a mismatch is then diffed row by row);
  every bucket is in the ``_committed`` marker and has lineage rows for
  both of its stages.

Each ``check_*`` returns None when the output is right and a one-line
reason otherwise. The expected side is computed once per run.
"""

from __future__ import annotations

import re
from pathlib import Path
from urllib.parse import unquote

import duckdb

from bop_consus_importing_rdf_spark.vocab import DCT_IDENTIFIER

_ID_RE = re.compile(r'^<([^>]*)> <' + re.escape(DCT_IDENTIFIER) + r'> "(.*)" \.$')


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _diff(expected: dict, actual: dict, what: str) -> str | None:
    if expected == actual:
        return None
    missing = sorted(set(expected) - set(actual))
    extra = sorted(set(actual) - set(expected))
    wrong = sorted(k for k in set(expected) & set(actual)
                   if expected[k] != actual[k])
    return (f"{what}: {len(missing)} missing, {len(extra)} unexpected, "
            f"{len(wrong)} wrong (e.g. {(missing + extra + wrong)[:1]})")


def _identifiers(lines_by_ds: dict[str, list[str]]) -> dict[str, tuple]:
    """(identifier, n_triples) per dataset from its N-Triples lines: the
    least dct:identifier of the root, else the root IRI (no dataset here
    has an empty identifier)."""
    out = {}
    for ds, lines in lines_by_ds.items():
        ids = [m.group(2) for m in map(_ID_RE.match, lines)
               if m and m.group(1) == ds]
        out[ds] = (min(ids) if ids else ds, len(lines))
    return out


def _manifest_ids(out: Path) -> list[str] | None:
    con = _con()
    rows = con.execute(
        f"SELECT identifiers FROM read_json_auto('{out}/manifest/*.json')"
    ).fetchall()
    con.close()
    return rows[0][0] if len(rows) == 1 else None


def _check_manifest(out: Path, expected: dict) -> str | None:
    want = [ident for ident, ds in
            sorted((v[0], k) for k, v in expected.items())]
    if _manifest_ids(out) != want:
        return "manifest identifiers differ from the expected counter order"
    return None


# ---------------------------------------------------------------------------
# harvest_dcat
# ---------------------------------------------------------------------------


def expect_dcat(inp: dict) -> dict:
    from bop_consus_importing_rdf_spark.oracle import ORACLES

    from inputs import duck_with_tables

    con = duck_with_tables(inp["tables"])
    rows = con.execute(ORACLES["split_datasets"]).fetchall()
    con.close()
    return {ds: (ident, n) for ds, ident, n in rows}


def check_dcat(out: Path, expected: dict) -> str | None:
    con = _con()
    rows = con.execute(
        f"SELECT dataset_id, list(value) FROM read_parquet('{out}/datasets/*.parquet') "
        "GROUP BY dataset_id"
    ).fetchall()
    con.close()
    got = _identifiers({ds: lines for ds, lines in rows})
    return _diff(expected, got, "datasets") or _check_manifest(out, expected)


# ---------------------------------------------------------------------------
# harvest_deep
# ---------------------------------------------------------------------------


def expect_deep(inp: dict) -> dict:
    return {k: tuple(v) for k, v in inp["expected"].items()}


def check_deep(out: Path, expected: dict) -> str | None:
    lines_by_ds = {}
    for d in (out / "datasets").iterdir():
        if not d.name.startswith("dataset_id="):
            continue
        ds = unquote(d.name[len("dataset_id="):])
        lines = []
        for f in d.iterdir():
            if f.name.startswith("part-"):
                lines += f.read_text(encoding="utf-8").splitlines()
        lines_by_ds[ds] = lines
    got = _identifiers(lines_by_ds)
    return _diff(expected, got, "datasets") or _check_manifest(out, expected)


# ---------------------------------------------------------------------------
# kg_transcripts
# ---------------------------------------------------------------------------

_COLS = ("conv_id, turn_idx, subj, pred, obj_value, obj_kind, obj_lang, "
         "obj_datatype, dataset_id")
_VALUES_RE = re.compile(
    r"t\(conv_id, turn_idx, text, ts\) AS \(VALUES .*?\),\naliases AS",
    re.S,
)


def e2e_sql(transcripts: str) -> str:
    """``oracle._e2e_oracle_sql`` reading ``transcripts`` instead of its
    built-in literal corpus."""
    from bop_consus_importing_rdf_spark.oracle import _e2e_oracle_sql

    sql, n = _VALUES_RE.subn(
        "t AS (SELECT conv_id, turn_idx, text, ts FROM "
        f"read_parquet('{transcripts}')),\naliases AS",
        _e2e_oracle_sql(),
    )
    if n != 1:
        raise RuntimeError("oracle._e2e_oracle_sql no longer has the "
                           "VALUES corpus this check replaces")
    return sql


def _fingerprint(con, rows: str) -> tuple:
    """Row count and the sum of row hashes: equal for equal multisets."""
    return con.execute(
        f"SELECT count(*), sum(hash({_COLS})::HUGEINT) FROM {rows}"
    ).fetchone()


def expect_kg(inp: dict, work: Path) -> tuple[Path, tuple]:
    """Materialize the oracle's triples as parquet (diffed against an
    execution's output when the fingerprints differ) and fingerprint
    them."""
    path = work / "kg_expected.parquet"
    con = _con()
    con.execute(f"COPY ({e2e_sql(inp['path'])}) TO '{path}' (FORMAT parquet)")
    fp = _fingerprint(con, f"read_parquet('{path}')")
    con.close()
    return path, fp


def check_kg(out: Path, expected: tuple[Path, tuple],
             n_buckets: int) -> str | None:
    con = _con()
    try:
        marker = sorted(r[0] for r in con.execute(
            f"SELECT bucket FROM read_parquet('{out}/_committed/*.parquet')"
        ).fetchall())
        if marker != list(range(n_buckets)):
            return f"committed buckets {marker}, want 0..{n_buckets - 1}"
        for b in marker:
            stages = {r[0].split("/")[-1] for r in con.execute(
                "SELECT DISTINCT stage FROM read_parquet("
                f"'{out}/lineage_metrics/bucket={b}/*.parquet')"
            ).fetchall()}
            if stages != {"transcripts_in", "triples_out"}:
                return f"bucket {b} lineage stages {sorted(stages)}"
        path, fp = expected
        got = f"(SELECT {_COLS} FROM read_parquet('{out}/triples/*/*.parquet'))"
        if _fingerprint(con, got) == fp:
            return None
        want = f"(SELECT {_COLS} FROM read_parquet('{path}'))"
        n_extra, = con.execute(
            f"SELECT count(*) FROM ({got} EXCEPT ALL {want})").fetchone()
        n_missing, = con.execute(
            f"SELECT count(*) FROM ({want} EXCEPT ALL {got})").fetchone()
        return (f"triples: {n_missing} missing, {n_extra} unexpected"
                if n_extra or n_missing else "triples: fingerprint differs")
    finally:
        con.close()
