"""Spans around the layer calls of ``run_filter`` and the Spark status-store
reads that give per-layer metrics.

The tracer wraps, from outside the program, the module attributes that
``filtlong_spark/plans/pipeline.py`` calls. Each wrapper records a span
(name, start, end, parent) in memory and sets ``spark.job.description``
to the span name, so every Spark job submitted inside it is tagged.
When a wrapper returns, the description becomes ``"<leg> after <span>"``:
jobs the pipeline body submits between two layer calls (the gates' eager
checkpoints, the stats aggregate) keep a tag that says where they ran.

Lazy layers (scoring, normalize, budget's plan) cost nothing at call
time; they execute fused inside the snapshot write or the survivor
write, so their work is read from the SQL node metrics of those jobs.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module, attribute, span name): the layer calls of plans/pipeline.py
WRAPPED = (
    ("filtlong_spark.operators.ingest", "ingest", "ingest"),
    ("filtlong_spark.operators.partitioning", "blocklist_gate",
     "gate.blocklist"),
    ("filtlong_spark.operators.dedup", "line_clean_pages", "gate.line_dedup"),
    ("filtlong_spark.operators.dedup", "near_dup_url_labels", "gate.near_dup"),
    ("filtlong_spark.operators.classifier", "quality_classifier",
     "gate.classifier"),
    ("filtlong_spark.operators.refset", "build_broadcast", "refset.build"),
    ("filtlong_spark.operators.lm", "lm_count_tables", "lm.count_tables"),
    ("filtlong_spark.operators.score", "score_and_scrub", "score"),
    ("filtlong_spark.operators.lm", "score_and_scrub_distributed", "lm.score"),
    ("filtlong_spark.operators.output", "checkpoint", "output.snapshot_write"),
    ("filtlong_spark.operators.output", "write_lineage", "output.lineage"),
    ("filtlong_spark.operators.output", "verify_snapshot_chain",
     "output.verify"),
    ("filtlong_spark.operators.normalize", "normalize", "normalize"),
    ("filtlong_spark.operators.budget", "apply_budget", "budget"),
)

# the SQL node metrics the per-layer report reads
SQL_METRICS = frozenset({
    "scan time", "size of files read", "time to run Python workers",
    "data sent to Python workers", "data returned from Python workers",
    "shuffle bytes written"})

PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapGroupsInPandas",
                "FlatMapGroupsInArrow", "ArrowWindowPython")

# a Python node is the scorer's when its output holds one of these column
# sets: the scored records (functions.scoring's fused mapper, the LM's
# reassembly mapper) or the LM's token rows. Line dedup's mapper and the
# gates' shingle mappers emit neither.
SCORER_COLUMNS = (frozenset({"mean_q"}), frozenset({"pos", "tok"}))


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    self_s: float = 0.0


@dataclass
class Tracer:
    sc: object                         # SparkContext
    spans: list[Span] = field(default_factory=list)
    captured: dict = field(default_factory=dict)   # span -> first argument
    overhead_s: float = 0.0            # wall spent in span bookkeeping
    _stack: list[Span] = field(default_factory=list)
    _saved: list = field(default_factory=list)

    def _describe(self, text: str | None) -> None:
        self.sc.setLocalProperty("spark.job.description", text)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        s = Span(name, time.time(),
                 parent=self._stack[-1].name if self._stack else None)
        self._stack.append(s)
        self._describe(name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t0 = time.perf_counter()
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            if not self._stack:
                self._describe(None)
            elif len(self._stack) == 1:   # back in a leg's own body
                self._describe(f"{self._stack[0].name} after {name}")
            else:
                self._describe(self._stack[-1].name)
            self.overhead_s += time.perf_counter() - t0

    def install(self) -> None:
        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, name))

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self.captured.setdefault(name, args[0] if args else None)
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def finish(self) -> list[Span]:
        """Fill in self time (duration minus the union of child spans)."""
        for s in self.spans:
            kids = [(c.start, c.end) for c in self.spans
                    if c.parent == s.name and s.start <= c.start <= s.end]
            s.self_s = (s.end - s.start) - covered(kids, s.start, s.end)
        return self.spans


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


# --- Spark status stores ---------------------------------------------------

_SCALE = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: '20,000', '6.5 s', '931.0 B' or
    'total (min, med, max ...)\\n6.5 s (1.5 s, ...)'."""
    text = text.strip()
    if "\n" in text:
        text = text.split("\n", 1)[1]
    parts = text.split(" (", 1)[0].split()
    value = float(parts[0].replace(",", ""))
    return value * _SCALE[parts[1]] if len(parts) > 1 else value


def node_outputs(desc: str) -> frozenset[str]:
    """Output column names of a Python plan node, from its description
    'MapInPandas f(url#1, text#2)#9, [url#10, mean_q#11], false'."""
    if ", [" not in desc:
        return frozenset()
    cols = desc.rsplit(", [", 1)[1].split("]", 1)[0]
    return frozenset(c.strip().split("#", 1)[0] for c in cols.split(","))


class StatusStore:
    """Reads finished jobs, stages and SQL executions with the UI off. Each
    status object crosses the py4j bridge as one JSON document, written
    by the Jackson mapper Spark ships with (one call instead of one per
    field)."""

    def __init__(self, spark):
        jvm = spark._jvm
        self.tracker = spark.sparkContext.statusTracker()
        self.app = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$").__getattr__("MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper() \
            .registerModule(scala)
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def last_job_id(self) -> int:
        # job ids run 0, 1, 2, ... in submission order
        return max(self.tracker.getJobIdsForGroup(None), default=-1)

    def last_execution_id(self) -> int:
        n = self.sql.executionsCount()
        return self._json(self.sql.executionsList(n - 1, 1))[0][
            "executionId"] if n else -1

    def actions(self, after_job: int, after_exec: int) -> int:
        """Spark actions since the two ids: SQL executions plus jobs that
        belong to none of them. Unlike the job count, this does not move
        when AQE splits one query's stages over one job more or fewer
        (on web_lm, 2 of 30 identical iterations ran 49 jobs, not 48)."""
        execs = [self.sql.execution(eid) for eid in
                 range(after_exec + 1, self.last_execution_id() + 1)]
        in_sql = {int(j) for e in execs if e.isDefined()
                  for j in self._json(e.get().jobs())}
        jobs = range(after_job + 1, self.last_job_id() + 1)
        return len(execs) + sum(1 for j in jobs if j not in in_sql)

    def jobs(self, after: int) -> list[dict]:
        return sorted(({"id": j["jobId"], "desc": j["description"],
                        "start": (j["submissionTime"] or 0) / 1e3 or None,
                        "end": (j["completionTime"] or 0) / 1e3 or None,
                        "stages": j["stageIds"]}
                       for j in self._json(self.app.jobsList(None))
                       if j["jobId"] > after), key=lambda j: j["id"])

    def stages(self, stage_ids) -> list[dict]:
        wanted = set(stage_ids)
        return [{"id": s["stageId"], "tasks": s["numCompleteTasks"],
                 "run_s": s["executorRunTime"] / 1e3,
                 "cpu_s": s["executorCpuTime"] / 1e9,
                 "gc_s": s["jvmGcTime"] / 1e3,
                 "shuffle_write_bytes": s["shuffleWriteBytes"],
                 "spill_bytes": s["memoryBytesSpilled"]
                 + s["diskBytesSpilled"],
                 "input_bytes": s["inputBytes"]}
                for s in self._json(self.app.stageList(
                    None, False, False, self._no_quantiles, None))
                if s["stageId"] in wanted]

    def executions(self, after: int) -> list[dict]:
        """SQL executions after ``after``: description and, per scan,
        exchange and Python plan node, its name, parsed metric totals and
        (Python nodes only) output column names."""
        out = []
        for eid in range(after + 1, self.last_execution_id() + 1):
            e = self.sql.execution(eid)
            if not e.isDefined():
                continue
            values = self._json(self.sql.executionMetrics(eid))
            nodes = []
            for n in self._json(self.sql.planGraph(eid).allNodes()):
                name = n["name"]
                if not ("Scan" in name or name == "Exchange"
                        or name in PYTHON_NODES):
                    continue
                mets = {m["name"]: parse_metric(values[acc])
                        for m in n["metrics"]
                        for acc in [str(m["accumulatorId"])]
                        if m["name"] in SQL_METRICS and acc in values}
                outs = node_outputs(n["desc"]) \
                    if name in PYTHON_NODES else frozenset()
                nodes.append((name, mets, outs))
            out.append({"id": eid, "desc": e.get().description(),
                        "nodes": nodes})
        return out


# --- per-layer metrics of one traced iteration ------------------------------

LEGS = ("fresh", "resume")


def job_layer(desc: str | None) -> str:
    """The layer a job belongs to, from the description it ran under."""
    if desc is None:
        return "untagged"
    if desc in LEGS:
        return "sources.read"        # leg body before any layer call
    if " after " in desc:
        leg, prev = desc.split(" after ", 1)
        # after ingest the pipeline body probes the source's partition
        # count (AQE runs the dup-key aggregate to answer it); between a
        # gate call and the next layer call it materializes the gate's
        # verdict (eager checkpoint + count); every other body job is
        # the stats aggregate
        if prev == "ingest" or (leg == "fresh" and prev.startswith("gate.")):
            return prev
        return "pipeline.stats"
    return desc


def _sum(xs) -> float:
    return float(sum(xs))


def layer_metrics(spans: list[Span], jobs: list[dict], stages: list[dict],
                  execs: list[dict]) -> tuple[dict, dict]:
    """(metrics, detail) for one traced iteration. ``metrics`` maps a
    per-layer metric name to (value, unit); ``detail`` holds every span
    name's time, for the trace file."""
    legs = [s for s in spans if s.name in LEGS]
    wall = _sum(s.end - s.start for s in legs)
    lo, hi = min(s.start for s in legs), max(s.end for s in legs)
    for j in jobs:
        j["layer"] = job_layer(j["desc"])
    job_iv = [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]]
    inner_iv = [(s.start, s.end) for s in spans if s.name not in LEGS]
    busy = covered(job_iv, lo, hi)
    accounted = covered(inner_iv + job_iv, lo, hi)

    def span_self(name, parent=None):
        return _sum(s.self_s for s in spans if s.name == name
                    and (parent is None or s.parent == parent))

    def job_wall(pred):
        return _sum(j["end"] - j["start"] for j in jobs
                    if j["start"] and j["end"] and pred(j["layer"]))

    fresh = next(s for s in legs if s.name == "fresh")
    snap = [s.start for s in spans if s.name == "output.snapshot_write"]
    by_stage = {s["id"]: s for s in stages}

    def stage_sum(key, pred=lambda layer: True):
        return _sum(by_stage[sid][key] for j in jobs if pred(j["layer"])
                    for sid in j["stages"] if sid in by_stage)

    def node_sum(metric, node_pred, exec_pred=lambda layer: True):
        return _sum(mets.get(metric, 0.0) for e in execs
                    if exec_pred(job_layer(e["desc"]))
                    for name, mets, outs in e["nodes"]
                    if node_pred(name, outs))

    def is_python(name, outs=None):
        return name in PYTHON_NODES

    def is_scorer(name, outs):
        return is_python(name) and any(c <= outs for c in SCORER_COLUMNS)

    def is_scan(name, outs):
        return "Scan" in name

    def is_gate(layer):
        return layer.startswith("gate.")

    m = {
        "sources.scan_s": (node_sum("scan time", is_scan), "s"),
        "sources.bytes_read": (node_sum("size of files read", is_scan),
                               "bytes"),
        "model.build_s": (span_self("refset.build")
                          + span_self("lm.count_tables"), "s"),
        "pipeline.prescore_s": ((min(snap) if snap else fresh.end)
                                - fresh.start, "s"),
        "scorer.python_s": (node_sum("time to run Python workers",
                                     is_scorer), "s"),
        "scorer.bytes_to_python": (node_sum("data sent to Python workers",
                                            is_scorer), "bytes"),
        "scorer.bytes_from_python": (node_sum(
            "data returned from Python workers", is_scorer), "bytes"),
        # every shuffle of the lazy layers fused into the snapshot write
        "snapshot_write.shuffle_bytes": (node_sum(
            "shuffle bytes written", lambda n, outs: n == "Exchange",
            lambda layer: layer == "output.snapshot_write"), "bytes"),
        "output.snapshot_write_s": (span_self("output.snapshot_write"), "s"),
        "output.lineage_s": (span_self("output.lineage"), "s"),
        "output.verify_s": (span_self("output.verify"), "s"),
        "output.survivor_write_s": (span_self("output.survivor_write",
                                              "fresh"), "s"),
        "pipeline.stats_s": (job_wall(lambda la: la == "pipeline.stats"),
                             "s"),
        "pipeline.budget_s": (span_self("budget"), "s"),
        "pipeline.driver_gap_s": (wall - busy, "s"),
        "pipeline.jobs": (len(jobs), "count"),
        "gate.jobs": (sum(1 for j in jobs if is_gate(j["layer"])), "count"),
        "gate.shuffle_bytes": (stage_sum("shuffle_write_bytes", is_gate),
                               "bytes"),
        "spark.executor_run_s": (stage_sum("run_s"), "s"),
        "spark.executor_cpu_s": (stage_sum("cpu_s"), "s"),
        "spark.gc_s": (stage_sum("gc_s"), "s"),
        "spark.tasks": (stage_sum("tasks"), "count"),
        "spark.shuffle_write_bytes": (stage_sum("shuffle_write_bytes"),
                                      "bytes"),
        "spark.spill_bytes": (stage_sum("spill_bytes"), "bytes"),
        "trace.coverage": (accounted / wall, "ratio"),
    }
    detail = {"wall_s": wall, "accounted_s": accounted, "job_busy_s": busy,
              "span_self_s": {}, "layer_job_wall_s": {},
              "layer_python_s": {}, "layer_jobs": {}}
    for e in execs:
        layer = job_layer(e["desc"])
        detail["layer_python_s"][layer] = detail["layer_python_s"].get(
            layer, 0.0) + _sum(mets.get("time to run Python workers", 0.0)
                               for name, mets, outs in e["nodes"]
                               if is_python(name))
    for j in jobs:
        detail["layer_jobs"][j["layer"]] = detail["layer_jobs"].get(
            j["layer"], 0) + 1
    for s in spans:
        key = f"{s.parent}/{s.name}" if s.parent else s.name
        detail["span_self_s"][key] = detail["span_self_s"].get(key, 0.0) \
            + s.self_s
    for j in jobs:
        if j["start"] and j["end"]:
            walls = detail["layer_job_wall_s"]
            walls[j["layer"]] = walls.get(j["layer"], 0.0) \
                + j["end"] - j["start"]
    return m, detail
