"""One measured driver JVM: build the session, run its first job, warm up,
then call the workload's entry function in a closed loop, one job at a
time.

Started by ``run.py`` as its own process, so every run gets a fresh JVM;
it only times, ``run.py`` owns input generation and output checks.

    python3 perfbench/worker.py SPEC.json RESULT.json

``SPEC.json`` names the workload, its input record, the work directory,
the measuring window, whether to trace, and ``t0``, the wall-clock time
the process was started. ``RESULT.json`` gets ``setup_s`` (``t0`` to the
end of the warm-up job), and per job its wall time, the driver JVM's
``VmHWM`` over it and the cache it left persisted; traced, every second
job runs with the layer spans installed and the spans are returned too.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time
from pathlib import Path

# kg_transcripts commits this many conversation buckets per job (job.py's
# default is 16; each bucket costs ~3 s of fixed job latency on local[4])
KG_BUCKETS = 2
# harvest_dcat's landed-table bucket count: 4 per core on local[4] (the
# CLI default of 64 is sized for a cluster)
DCAT_BUCKETS = 16


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def reset_hwm(pid: int) -> None:
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def read_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


def retained_cache_mb(spark) -> float:
    """Memory + disk held by persisted RDD/Dataset blocks right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


class Workload:
    """The entry-function call of one workload, with its inputs bound."""

    def __init__(self, spark, name: str, inp: dict):
        self.spark, self.name, self.inp = spark, name, inp
        if name == "kg_transcripts":
            from bop_consus_importing_rdf_spark.kg.synth import alias_table
            from bop_consus_importing_rdf_spark.plans import resume

            # built before the clock starts, as job.py does
            self.transcripts = spark.read.parquet(inp["path"])
            self.aliases = alias_table(spark)
            self.resume = resume
        else:
            import harvest

            self.harvest = harvest

    def __call__(self, out: str) -> None:
        if self.name == "kg_transcripts":
            n = self.resume.run_resumable(
                self.spark, self.transcripts, self.aliases, out,
                n_buckets=KG_BUCKETS,
            )
            if n != KG_BUCKETS:
                raise RuntimeError(f"{n} of {KG_BUCKETS} buckets committed")
        elif self.name == "harvest_dcat":
            self.harvest.run_harvest(
                self.spark, self.inp["path"], out, catalogue="perfbench",
                bucket_threshold_bytes=0, n_buckets=DCAT_BUCKETS,
                # what `auto` picks past 20k datasets, as at full size
                datasets_layout="parquet",
            )
        else:
            self.harvest.run_harvest(
                self.spark, self.inp["path"], out, catalogue="perfbench"
            )

    def release(self) -> None:
        """Drop what one execution leaves in the session so the next one
        starts from the same state: extraction caches, cached frames, the
        landed table's catalog entry, unreferenced checkpoint blocks."""
        from bop_consus_importing_rdf_spark.kg.pipeline import (
            release_extraction_caches,
        )

        release_extraction_caches()
        self.spark.catalog.clearCache()
        for t in self.spark.catalog.listTables():
            if t.name.startswith("harvest_triples_"):
                self.spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        gc.collect()
        self.spark._jvm.java.lang.System.gc()


def main(spec_path: str, result_path: str) -> None:
    spec = json.loads(Path(spec_path).read_text())
    t0 = spec["t0"]
    sys.path.insert(0, os.getcwd())
    from bop_consus_importing_rdf_spark.session import get_spark

    spark = get_spark("perfbench", cores=spec["cores"])
    spark.sparkContext.setLogLevel("ERROR")
    trace = spec["trace"]
    if trace:
        from spans import SESSION_GROUP

        spark.sparkContext.setJobGroup(SESSION_GROUP, "session")
    spark.range(1000).selectExpr("sum(id)").collect()
    session_s = time.time() - t0
    if trace:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    pid = jvm_pid(spark)
    outs = Path(spec["work"]) / "out"
    wl = Workload(spark, spec["workload"], spec["input"])
    tracer = None

    def execute(name: str, traced: bool = False) -> dict:
        out = outs / name
        reset_hwm(pid)
        if traced:
            tracer.begin(len(runs))
        t = time.perf_counter()
        error = None
        try:
            wl(str(out))
        except Exception as e:  # recorded as a failed execution
            error = f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t
        if traced:
            tracer.end()
        run = {
            "i": len(runs), "out": str(out), "wall_s": wall, "traced": traced,
            "peak_rss_mb": read_hwm_mb(pid), "error": error,
            "retained_cache_mb": retained_cache_mb(spark),
        }
        wl.release()
        return run

    # the warm-up runs the cold job (first-use class loading, codegen, JIT)
    # over the measured input, and counts in setup_s
    runs: list[dict] = []
    warmup = execute("warmup")
    setup_s = time.time() - t0
    if trace:
        from spans import Tracer

        tracer = Tracer(spark)
        tracer.install(spec["workload"])
    start = time.perf_counter()
    # traced runs alternate untraced and traced jobs, so both halves see
    # the same spread of session ages; past the minimum, a job starts only
    # if a job of the median length so far still ends inside the window
    while (len(runs) < spec["min_jobs"]
           or time.perf_counter() - start + statistics.median(
               r["wall_s"] for r in runs) <= spec["seconds"]):
        runs.append(execute(f"run{len(runs)}",
                            traced=trace and len(runs) % 2 == 1))
    if tracer is not None:
        tracer.unwrap()
    result = {
        "session_s": session_s,
        "setup_s": setup_s,
        "cores": spec["cores"],
        "warmup": warmup,
        "runs": runs,
        "spans": tracer.spans if tracer else [],
    }
    spark.stop()
    Path(result_path).write_text(json.dumps(result))


if __name__ == "__main__":
    main(*sys.argv[1:3])
