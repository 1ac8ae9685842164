#!/usr/bin/env python3
"""End-to-end benchmark of the two production jobs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (closed loop, one job at a time,
one client, ``local[<cores of this process>]``):

- ``kg_transcripts``: ``plans.resume.run_resumable`` (the ``job.py`` job)
  over a generated transcript table into a fresh output directory.
- ``harvest_dcat``: ``harvest.run_harvest`` with the bucketed landing
  forced (``--bucket-threshold-mb 0``) over the fixture DCAT graph
  rendered as one N-Triples dump.
- ``harvest_deep``: ``harvest.run_harvest`` at CLI defaults over a
  generated catalogue with deep blank-node chains, shared subgraphs,
  cycles and nested catalogues. Not in ``BENCHMARK.json``: with it, the
  scheduled runs would not fit their time budget at sizes steady enough
  to measure on a 4-core host; run it by hand.

Each run generates its inputs from ``--seed`` (``inputs.py``) and starts
one fresh worker process with its own driver JVM (``worker.py``). There,
``setup_s`` runs from the worker's start to a session that has run its
first job and one warm-up job over the measured input (the cold job:
class loading, codegen, JIT). Then the entry function runs twice and,
past that, again as long as a job of the median length so far still
ends within ``--seconds`` of the window's start; each job writes into a
fresh output directory, with the session's caches released in between.
Every job's output, the warm-up's too, is checked against an oracle
(``checks.py``); a job that raised or failed its check counts in
``failed`` and is left out of the metrics.

Why one JVM per run with a full-size warm-up rather than a fresh JVM per
job: on a 4-core host a cold job's wall time spread 27% (interquartile
range over median, five seeds) and every sample paid ~10 s of JVM set-up
and ~15 s of cold codegen. After a warm-up over a small input the next
job still ran ~1.5x slower than the ones after it, and how much slower
depended on how fast the JIT caught up; after a warm-up over the measured
input the jobs that follow take about the same time (within ~15%), so
their median reads the session's steady speed.

``--trace 0`` prints the end-to-end metrics: ``wall_s`` (median over the
jobs), ``input_rows_per_s`` (turns for ``kg_transcripts``, statements
for the harvests, per second of median ``wall_s``), ``write_amp`` (bytes
under the job's output directory per input byte), ``peak_rss_mb``
(median driver-JVM ``VmHWM``, reset before each job by writing 5 to
``/proc/<pid>/clear_refs``) and ``setup_s``; ``failed_ratio`` is
``failed / attempted`` of the last line.

``--trace 1`` runs the jobs with Spark's event log on and the layer spans
(``spans.py``) installed, alternating untraced and traced jobs, and
prints per layer the median over the traced jobs of: self time (span
minus child spans), Spark jobs, tasks, failed tasks, executor run and CPU
seconds, core utilisation, shuffle-write and spill megabytes; ``root`` is
the entry call's time and Spark jobs no span covers. Then counters (sink
files and directories, committed buckets, output rows, cache left
persisted after a job) and the tracing overhead: traced minus untraced
median wall time of the same session.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = {
    "kg_transcripts": "transcripts",
    "harvest_dcat": "dcat",
    "harvest_deep": "deep",
}
# fixed driver heap (-Xms = -Xmx): fits a 15 GB host with room for the page
# cache and other tenants, and a heap that never resizes keeps the driver's
# resident size from tracking G1's expansion decisions
DRIVER_MEM = "2g"
WORK = ".perfbench_work"
# a run must end within 180 s; the worker gets what is left of this
RUN_DEADLINE_S = 170
# jobs measured per run, at least: wall_s is their median (a traced run
# alternates untraced and traced jobs)
MIN_JOBS = 2


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(code)


def _program_present(root: Path) -> None:
    missing = [p for p in ("harvest.py", "job.py",
                           "bop_consus_importing_rdf_spark/__init__.py")
               if not (root / p).is_file()]
    if missing:
        _fail(f"program files missing from {root}: {', '.join(missing)}")


def _worker_env(work: Path, trace: bool) -> dict:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        # keep every JVM's scratch files inside the work directory
        "_JAVA_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            [os.getcwd(), str(HERE), env.get("PYTHONPATH", "")]),
    })
    conf = {"spark.sql.warehouse.dir": str(work / "warehouse")}
    if trace:
        log = work / "eventlog"
        log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log.as_uri(),
            "spark.eventLog.compress": "false",
        })
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--driver-java-options -Xms{DRIVER_MEM}"]
        + [f"--conf {k}={v}" for k, v in conf.items()]) + " pyspark-shell"
    return env


def run_worker(spec: dict, work: Path, deadline: float) -> dict:
    """The run's one worker process (and driver JVM)."""
    spec = dict(spec, work=str(work), t0=time.time())
    spec_path, result_path = work / "spec.json", work / "result.json"
    spec_path.write_text(json.dumps(spec))
    log = open(work / "worker.log", "w")
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "worker.py"), str(spec_path),
         str(result_path)],
        env=_worker_env(work, spec["trace"]), stdout=log,
        stderr=subprocess.STDOUT, start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=max(deadline - time.monotonic(), 1))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        # the worker's JVM and Python workers share its process group
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        log.close()
    if rc != 0 or not result_path.exists():
        tail = (work / "worker.log").read_text(errors="replace")[-3000:]
        print(tail, file=sys.stderr)
        _fail("worker timed out" if rc is None else f"worker exited {rc}", 3)
    return json.loads(result_path.read_text())


def _tree_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def check_outputs(workload: str, inp: dict, work: Path, outs: list[str]):
    """One failure reason (or None) per output directory."""
    import checks

    if workload == "kg_transcripts":
        from worker import KG_BUCKETS

        work.mkdir(exist_ok=True)
        expected = checks.expect_kg(inp, work)
        return [checks.check_kg(Path(o), expected, KG_BUCKETS) for o in outs]
    if workload == "harvest_dcat":
        expected = checks.expect_dcat(inp)
        return [checks.check_dcat(Path(o), expected) for o in outs]
    expected = checks.expect_deep(inp)
    return [checks.check_deep(Path(o), expected) for o in outs]


def end_to_end(result: dict, runs: list[dict], inp: dict) -> dict:
    wall = statistics.median(r["wall_s"] for r in runs)
    return {
        "wall_s": (wall, "s"),
        "input_rows_per_s": (inp["units"] / wall, "1/s"),
        "write_amp": (statistics.median(
            r["out_bytes"] for r in runs) / inp["bytes"], "ratio"),
        "peak_rss_mb": (statistics.median(
            r["peak_rss_mb"] for r in runs), "MB"),
        "setup_s": (result["setup_s"], "s"),
    }


def _output_rows(workload: str, out: Path) -> int:
    import duckdb

    if workload == "harvest_deep":
        return sum(len(f.read_text(encoding="utf-8").splitlines())
                   for f in (out / "datasets").rglob("part-*"))
    glob = (f"{out}/triples/*/*.parquet" if workload == "kg_transcripts"
            else f"{out}/datasets/*.parquet")
    con = duckdb.connect()
    n, = con.execute(f"SELECT count(*) FROM read_parquet('{glob}')").fetchone()
    con.close()
    return n


def per_layer(result: dict, runs: list[dict], workload: str,
              eventlog: Path) -> dict:
    """Per layer, the median over the traced jobs; then counters and the
    tracing overhead (traced minus untraced median wall time)."""
    import spans

    cores = result["cores"]
    folded = spans.fold_event_log(spans.read_event_log(eventlog))
    jobs = [r for r in runs if r["traced"]]
    tables = [spans.layer_table(result["spans"], folded, cores, r["i"],
                                r["wall_s"]) for r in jobs]
    table = {layer: {f: statistics.median(t[layer][f] for t in tables)
                     for f in spans.FIELDS}
             for layer in (*spans.LAYERS, spans.ROOT)}
    session = table["session"]
    session.update(folded.get(spans.SESSION_GROUP, {}))
    session["wall_s"] = result["session_s"]
    session["core_util"] = session["run_s"] / (session["wall_s"] * cores)
    units = {"wall_s": "s", "run_s": "s", "cpu_s": "s", "core_util": "ratio",
             "shuffle_mb": "MB", "spill_mb": "MB"}
    metrics: dict[str, tuple] = {
        f"{layer}.{field}": (table[layer][field], units.get(field, "count"))
        for layer in (*spans.LAYERS, spans.ROOT) for field in spans.FIELDS
    }
    traced = jobs[-1]
    out = Path(traced["out"])
    sink = out / ("triples" if workload == "kg_transcripts" else "datasets")
    metrics.update({
        "sink.files": (sum(f.is_file() for f in sink.rglob("*")), "count"),
        "sink.dirs": (sum(f.is_dir() for f in sink.rglob("*")), "count"),
        "resume.buckets": (
            sum(1 for _ in (out / "lineage_metrics").glob("bucket=*")),
            "count"),
        "output.rows": (_output_rows(workload, out), "count"),
        "session.retained_cache_mb": (max(
            r["retained_cache_mb"] for r in runs), "MB"),
        "trace.wall_s": (statistics.median(r["wall_s"] for r in jobs), "s"),
        "trace.overhead_s": (
            statistics.median(r["wall_s"] for r in jobs)
            - statistics.median(r["wall_s"] for r in runs if not r["traced"]),
            "s"),
    })
    return metrics


def print_report(workload: str, inp: dict, result: dict, runs: list[dict],
                 failures: list, metrics: dict, trace: bool) -> None:
    print(f"workload {workload}: input {inp['rows']} "
          f"{inp['bytes']} bytes sha256 {inp['sha256']}")
    print(f"setup_s {result['setup_s']:.3f} (session {result['session_s']:.3f}"
          f" + warm-up job {result['warmup']['wall_s']:.3f})")
    walls = [r["wall_s"] for r in runs if not r["traced"]]
    q1, q2, q3 = _quartiles(walls)
    print(f"wall_s median {q2:.3f} q1 {q1:.3f} q3 {q3:.3f} n {len(walls)}")
    for j in (result["warmup"], *runs):
        print(f"  job {Path(j['out']).name:<7} wall_s {j['wall_s']:8.3f} "
              f"peak_rss_mb {j['peak_rss_mb']:8.1f} retained_cache_mb "
              f"{j['retained_cache_mb']:7.1f} {j['failure'] or 'ok'}")
    n_failed = sum(f is not None for f in failures)
    print(f"failed_ratio {n_failed / len(failures):.3f} "
          f"({n_failed} of {len(failures)} jobs, warm-up included)")
    for f in failures:
        if f is not None:
            print(f"  failure: {f}")
    if not trace:
        alias = ("turns_per_s" if workload == "kg_transcripts"
                 else "statements_per_s")
        for name, (value, unit) in metrics.items():
            extra = f"  ({alias})" if name == "input_rows_per_s" else ""
            print(f"  {name:<18} {value:>14.4f} {unit}{extra}")
        return
    import spans

    print("traced job, per layer (wall_s is self time; root is the entry "
          "call's time no layer span covers)")
    print(f"{'layer':<20}" + "".join(f"{f:>13}" for f in spans.FIELDS))
    for layer in (*spans.LAYERS, spans.ROOT):
        print(f"{layer:<20}" + "".join(
            f"{metrics[f'{layer}.{f}'][0]:>13.3f}" for f in spans.FIELDS))
    table = {f"{layer}.{f}" for layer in (*spans.LAYERS, spans.ROOT)
             for f in spans.FIELDS}
    for name, (value, unit) in metrics.items():
        if name not in table:
            print(f"  {name:<26} {value:>12.3f} {unit}")
    print(f"  closure.jobs (= operators.closure.jobs) "
          f"{metrics['operators.closure.jobs'][0]:.0f}")


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + RUN_DEADLINE_S
    # a terminated run still stops its worker and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = Path.cwd()
    _program_present(root)
    sys.path[:0] = [str(root), str(HERE)]
    import inputs

    work = root / WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        kind = WORKLOADS[args.workload]
        inputs.check_pins(kind, work)
        inp = inputs.make(kind, work / "input", args.seed)

        def bare(record):
            return {k: v for k, v in record.items() if k != "expected"}

        spec = {
            "workload": args.workload,
            "input": bare(inp),
            "seconds": args.seconds,
            "min_jobs": MIN_JOBS,
            "trace": bool(args.trace),
            "cores": len(os.sched_getaffinity(0)),
        }
        result = run_worker(spec, work, deadline)
        jobs = [result["warmup"], *result["runs"]]
        failures = check_outputs(args.workload, inp, work,
                                 [j["out"] for j in jobs])
        for j, f in zip(jobs, failures):
            j["failure"] = j["error"] or f
            j["out_bytes"] = _tree_bytes(Path(j["out"]))
        failures = [j["failure"] for j in jobs]
        # only jobs with a correct output are measured
        runs = [r for r in result["runs"] if r["failure"] is None]
        kinds = {r["traced"] for r in runs}
        if (True in kinds) != bool(args.trace) or False not in kinds:
            _fail(f"no passing job: {next(f for f in failures if f)}", 4)
        if args.trace:
            metrics = per_layer(result, runs, args.workload,
                                work / "eventlog")
        else:
            metrics = end_to_end(result, runs, inp)
        print_report(args.workload, inp, result, result["runs"], failures,
                     metrics, bool(args.trace))
        n_failed = sum(f is not None for f in failures)
        print(json.dumps({
            "correct": n_failed == 0,
            "attempted": len(failures),
            "failed": n_failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (root / WORK).rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    main()
