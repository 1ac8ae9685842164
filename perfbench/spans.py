"""Spans around the program's layers, folded with Spark's own event log.

A :class:`Tracer` records spans from the benchmark's side of each call into
a layer: it swaps a module attribute (or a PySpark method) for a wrapper
that opens a span, and every span sets its own Spark job group. After the
session stops, :func:`fold_event_log` reads the uncompressed event log and
attributes each job, task and stage metric to the span whose group
launched it; PySpark job call sites in the log are Java frames, so the job
group is the only reliable link back to a layer.

A span sees only the work its own actions force: lazy plans built in one
layer run inside whichever span triggers them (parsing shows up in
``sources.land`` or ``harvest.gate``, extraction in ``plans.resume``).
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

# every layer the traced report has a row for, in report order
LAYERS = (
    "session",
    "sources.land",
    "harvest.gate",
    "operators.split",
    "operators.closure",
    "operators.manifest",
    "harvest.sink",
    "plans.lineage",
    "plans.resume",
    "kg.pipeline",
)
ROOT = "root"
FIELDS = (
    "wall_s", "jobs", "tasks", "failed_tasks", "run_s", "cpu_s",
    "core_util", "shuffle_mb", "spill_mb",
)
_GROUP_PREFIX = "perfbench:"
SESSION_GROUP = _GROUP_PREFIX + "session"


class Tracer:
    """Spans of the traced jobs of one session. ``spans`` holds dicts with
    the traced ``job`` index, the layer ``name``, ``start``/``end``
    (``perf_counter``), the span's Spark job ``group``
    (``perfbench:<span index>``) and its ``parent``'s group (None at the
    top). The wrappers stay installed between traced jobs and pass calls
    straight through while no traced job is running."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self._counted_ids: set[int] = set()
        self._split_called = False
        self._job: int | None = None

    # -- spans ------------------------------------------------------------

    def set_group(self, group: str | None, name: str = "") -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, name)

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.set_group(
                None if self._job is None else root_group(self._job), ROOT)
        else:
            self.set_group(span["group"], span["name"])

    @contextmanager
    def span(self, name: str):
        span = {
            "job": self._job,
            "name": name,
            "group": f"{_GROUP_PREFIX}{len(self.spans)}",
            "parent": self._stack[-1]["group"] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    # -- wrapping ---------------------------------------------------------

    def _swap(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def wrap(self, owner, attr: str, name: str, on_return=None) -> None:
        """Run every call of ``owner.attr`` inside span ``name``."""
        inner = getattr(owner, attr)

        @functools.wraps(inner)
        def wrapper(*args, **kwargs):
            if self._job is None:
                return inner(*args, **kwargs)
            with self.span(name):
                out = inner(*args, **kwargs)
            if on_return is not None:
                on_return(out)
            return out

        self._swap(owner, attr, wrapper)

    def wrap_actions(self, classify) -> None:
        """Wrap the DataFrame action and writer sinks the entry functions
        call directly. ``classify(tracer, caller, obj, attr, args, kwargs)``
        names the span for one call, or returns None to leave the call to
        the enclosing span; ``caller`` is the calling function's name."""
        from pyspark.sql import DataFrameWriter

        def make(owner, attr):
            inner = getattr(owner, attr)

            @functools.wraps(inner)
            def wrapper(obj, *args, **kwargs):
                if self._job is None:
                    return inner(obj, *args, **kwargs)
                caller = sys._getframe(1).f_code.co_name
                name = classify(self, caller, obj, attr, args, kwargs)
                if name is None:
                    return inner(obj, *args, **kwargs)
                with self.span(name):
                    return inner(obj, *args, **kwargs)

            self._swap(owner, attr, wrapper)

        # the session's concrete DataFrame class overrides the base class's
        # actions
        make(type(self.spark.range(0)), "count")
        for attr in ("parquet", "json", "text"):
            make(DataFrameWriter, attr)

    def unwrap(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- the two entry functions' layer map -------------------------------

    def install(self, workload: str) -> None:
        """Wrap the calls each layer is entered through."""
        # by module path: the package __init__s re-export functions under
        # some of these module names
        def mod(name):
            return importlib.import_module(f"bop_consus_importing_rdf_spark.{name}")

        if workload == "kg_transcripts":
            self.wrap(mod("kg.pipeline"), "build_kg", "kg.pipeline")
            self.wrap(mod("plans.resume"), "run_resumable", "plans.resume")
        else:
            split, manifest = mod("operators.split"), mod("operators.manifest")
            self.wrap(mod("sources.bucketed"), "write_bucketed", "sources.land")
            self.wrap(split, "split_datasets", "operators.split",
                      on_return=self._after_split)
            self.wrap(split, "reachable_closure", "operators.closure")
            self.wrap(manifest, "with_counter", "operators.manifest",
                      on_return=lambda df: self._counted_ids.add(id(df)))
        self.wrap_actions(_classify)

    def _after_split(self, _out) -> None:
        self._split_called = True

    def begin(self, job: int) -> None:
        """Start traced job ``job``: its Spark jobs outside every layer
        span go to that job's root group."""
        self._job = job
        self._counted_ids.clear()
        self._split_called = False
        self._set_group(None)

    def end(self) -> None:
        self._job = None
        self._set_group(None)


def root_group(job: int) -> str:
    return f"{_GROUP_PREFIX}{ROOT}{job}"


def _classify(tracer: Tracer, caller, obj, attr, args, kwargs):
    """Which layer a direct action of an entry function belongs to."""
    if caller == "run_harvest":
        if attr == "count":
            if not tracer._split_called:
                return "harvest.gate"
            if id(obj) in tracer._counted_ids:
                return "operators.manifest"
            return None
        path = str(args[0] if args else kwargs.get("path", ""))
        if path.endswith("/metrics"):
            return "plans.lineage"
        if path.endswith(("/datasets", "/manifest", "/warnings")):
            return "harvest.sink"
        return None
    if caller == "run_resumable" and attr == "parquet":
        path = str(args[0] if args else kwargs.get("path", ""))
        if "/lineage_metrics/" in path:
            return "plans.lineage"
    return None


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: Path) -> list[dict]:
    events = []
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        # skip Hadoop checksum side files and rolling-log status markers
        if f.name.startswith((".", "appstatus")):
            continue
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    if not events:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    return events


def fold_event_log(events: list[dict]) -> dict[str, dict]:
    """Per job group: jobs, tasks, failed tasks, executor run/CPU seconds,
    shuffle-write and disk-spill megabytes. Jobs without a perfbench group
    fold into ``None``."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, dict] = defaultdict(lambda: dict.fromkeys(
        ("jobs", "tasks", "failed_tasks", "run_s", "cpu_s", "shuffle_mb",
         "spill_mb"), 0))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            group = group if group and group.startswith(_GROUP_PREFIX) else None
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            row = out[group]
            row["tasks"] += 1
            info = ev.get("Task Info") or {}
            if info.get("Failed") or info.get("Killed"):
                row["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            row["run_s"] += m.get("Executor Run Time", 0) / 1e3
            row["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sw = m.get("Shuffle Write Metrics") or {}
            row["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            row["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
    return dict(out)


def layer_table(spans: list[dict], folded: dict, cores: int, job: int,
                entry_wall: float) -> dict[str, dict]:
    """Traced job ``job``'s per-layer rows: self wall time (span minus its
    children), the folded Spark metrics of the span's own job groups, and
    ``root`` for the entry call's time and Spark jobs no layer span
    covers."""
    spans = [s for s in spans if s["job"] == job]
    child_time: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    rows = {name: dict.fromkeys(FIELDS, 0.0) for name in (*LAYERS, ROOT)}
    covered = 0.0
    for s in spans:
        row = rows[s["name"]]
        row["wall_s"] += (s["end"] - s["start"]) - child_time[s["group"]]
        if s["parent"] is None:
            covered += s["end"] - s["start"]
        for k, v in folded.get(s["group"], {}).items():
            row[k] += v
    rows[ROOT]["wall_s"] = max(entry_wall - covered, 0.0)
    for k, v in folded.get(root_group(job), {}).items():
        rows[ROOT][k] += v
    for row in rows.values():
        wall = row["wall_s"]
        row["core_util"] = row["run_s"] / (wall * cores) if wall > 0 else 0.0
    return rows
