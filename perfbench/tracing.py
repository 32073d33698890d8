"""Traced-run machinery, kept inside the benchmark.

Layers are timed from outside: `Tracer.install` wraps the public
functions of each layer where `qendpoint_spark.pipeline` (or the
package a function imports them from) binds them, plus
`Catalog.write_stage` and the catalog's parquet-footer reads. Every
wrapped call is a span (name, layer, start, end, parent). Spark work
runs inside whichever action consumes a lazy plan, so each span sets
`sc.setJobGroup` to its own id while open: every Spark job is thereby
attributed to the innermost open span, and the Spark event log (enabled
in traced runs only) gives each job's tasks — run time, shuffle, spill,
GC, failures. Spans stay in memory; once the run has stopped Spark,
`analyze` turns them into the per-layer metrics and `dump` writes them
out.

A write_stage span belongs to the layer that produced its table
(STAGE_LAYER). Inside `incremental_update`, every non-write_stage span
stays in the merge layer: the delta extract, dictionary and encode, the
KCat remap and the checkpoints are merge work.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import statistics
import time
from collections import defaultdict

STAGE_LAYER = {
    "triples_str": ("extraction", None),
    "linked_mentions": ("linking", None),
    "triples_canon": ("linking", None),
    "dict_terms": ("dictionary", None),
    "triples_spo": ("encoding", "spo"),
    "quads_spog": ("encoding", "spo"),
    "triples_ops": ("encoding", "ops"),
    "triples_pso": ("encoding", "pso"),
    "predicate_index": ("encoding", "stats"),
    "object_index": ("encoding", "stats"),
    "header": ("encoding", "stats"),
}

FUNCTION_LAYER = [
    ("qendpoint_spark.pipeline", "extract_triples_from_documents", "extraction", None),
    ("qendpoint_spark.pipeline", "extract_triples_from_pages", "extraction", None),
    ("qendpoint_spark.linking", "link_mentions", "linking", None),
    ("qendpoint_spark.linking", "canonicalize_triples", "linking", None),
    ("qendpoint_spark.pipeline", "build_dictionary", "dictionary", None),
    ("qendpoint_spark.pipeline", "with_datatype", "dictionary", None),
    ("qendpoint_spark.pipeline", "encode_triples", "encoding", "spo"),
    ("qendpoint_spark.pipeline", "spo_table", "encoding", "spo"),
    ("qendpoint_spark.pipeline", "ops_table", "encoding", "ops"),
    ("qendpoint_spark.pipeline", "pso_table", "encoding", "pso"),
    ("qendpoint_spark.pipeline", "predicate_index", "encoding", "stats"),
    ("qendpoint_spark.pipeline", "object_index", "encoding", "stats"),
    ("qendpoint_spark.pipeline", "build_header", "encoding", "stats"),
    ("qendpoint_spark.merge", "merge_incremental", "merge", None),
]

OUTSIDE = "pb-outside"


def parquet_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under `path`."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


class _TimedParquet:
    """Stands in for the catalog module's `pyarrow.parquet` binding and
    times its footer reads."""

    def __init__(self, real, tracer: "Tracer"):
        self._real, self._tracer = real, tracer

    def read_metadata(self, *a, **kw):
        t0 = time.time()
        try:
            return self._real.read_metadata(*a, **kw)
        finally:
            self._tracer.count("catalog.footer_s", time.time() - t0)

    def __getattr__(self, name):
        return getattr(self._real, name)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[dict] = []
        self._undo: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0
        self.post: list = []  # (op index, callable) run after the op, untimed

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str, part: str | None = None):
        t_book = time.time()
        rec = {
            "id": f"pb-{len(self.spans)}", "name": name, "layer": layer,
            "part": part, "parent": self._stack[-1]["id"] if self._stack else None,
            "op": len(self.ops) - 1, "children_s": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["t0"] = time.time()
        self.bookkeeping_s += rec["t0"] - t_book
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            if self._stack:
                self._stack[-1]["children_s"] += rec["t1"] - rec["t0"]
            self.sc.setJobGroup(self._stack[-1]["id"] if self._stack else OUTSIDE, "")
            self.bookkeeping_s += time.time() - rec["t1"]

    def count(self, key: str, value: float) -> None:
        if self.ops and self.ops[-1].get("t1") is None:
            c = self.ops[-1]["counters"]
            c[key] = c.get(key, 0.0) + value

    @contextlib.contextmanager
    def op(self, name: str, layer: str, warehouse: str):
        """One timed operation: a top-level span plus its counters; the
        published bytes before and after bracket it, untimed."""
        before = parquet_bytes(warehouse)[0]
        rec = {"counters": {}, "t1": None}
        self.ops.append(rec)
        try:
            with self.span(name, layer) as top:
                yield rec
        finally:
            rec["t0"], rec["t1"] = top["t0"], top["t1"]
            rec["growth"] = parquet_bytes(warehouse)[0] - before

    def run_post(self) -> None:
        """Untimed follow-up counts (e.g. the delta dictionary size),
        in their own job group so no layer is charged for them."""
        self.sc.setJobGroup("pb-post", "")
        for i, fn in self.post:
            c = self.ops[i]["counters"]
            for k, v in fn().items():
                c[k] = c.get(k, 0.0) + v
        self.post.clear()
        self.sc.setJobGroup(OUTSIDE, "")

    # -- wrappers ---------------------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _layer_for(self, layer: str, part):
        inner = self._stack[-1] if self._stack else None
        if inner is not None and inner["layer"] == "merge":
            return "merge", None
        return layer, part

    def install(self) -> None:
        import qendpoint_spark.catalog as catalog_mod

        tracer = self
        for mod_name, attr, layer, part in FUNCTION_LAYER:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)

            def wrapper(*a, __fn=fn, __layer=layer, __part=part, **kw):
                lay, prt = tracer._layer_for(__layer, __part)
                with tracer.span(__fn.__name__, lay, prt):
                    out = __fn(*a, **kw)
                if __fn.__name__ == "merge_incremental":
                    delta_dict = a[1][1]
                    tracer.post.append(
                        (len(tracer.ops) - 1, lambda d=delta_dict: {"merge.delta_terms": d.count()})
                    )
                return out

            self._patch(mod, attr, functools.wraps(fn)(wrapper))

        write_stage = catalog_mod.Catalog.write_stage

        @functools.wraps(write_stage)
        def traced_write_stage(cat, stage, *a, **kw):
            layer, part = STAGE_LAYER.get(stage, ("catalog", None))
            with tracer.span(f"write_stage:{stage}", layer, part):
                res = write_stage(cat, stage, *a, **kw)
            t_book = time.time()
            tracer.count(f"rows.{stage}", res.rows)
            if not res.resumed:
                size, files = parquet_bytes(res.path)
                tracer.count("catalog.bytes_written", size)
                tracer.count("catalog.files_written", files)
            tracer.bookkeeping_s += time.time() - t_book
            return res

        self._patch(catalog_mod.Catalog, "write_stage", traced_write_stage)
        self._patch(catalog_mod, "pq", _TimedParquet(catalog_mod.pq, self))
        self.sc.setJobGroup(OUTSIDE, "")

    def dump(self, path: str) -> None:
        """Write the spans and per-operation counters out as JSON."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"ops": self.ops, "spans": self.spans}, f, indent=1)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)


# -- event log analysis -----------------------------------------------------

def _read_event_log(log_dir: str):
    jobs, stage_tasks = {}, defaultdict(list)
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        "t0": e["Submission Time"] / 1000.0,
                        "stages": e["Stage IDs"],
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    stage_tasks[e["Stage ID"]].append(
                        {
                            "run": m.get("Executor Run Time", 0) / 1000.0,
                            "gc": m.get("JVM GC Time", 0) / 1000.0,
                            "shuffle": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                            "spill": m.get("Disk Bytes Spilled", 0),
                            "failed": bool(e["Task Info"].get("Failed")),
                        }
                    )
    # a later job lists the shuffle stages it reuses; their tasks ran
    # (and are charged) under the first job that listed them
    owned: set[int] = set()
    for jid in sorted(jobs):
        j = jobs[jid]
        j["own_stages"] = [sid for sid in j["stages"] if sid not in owned]
        owned.update(j["stages"])
    return jobs, stage_tasks


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _skew(stages: list[list[dict]]) -> float:
    """Slowest task ÷ median task in the layer's busiest stage."""
    stages = [s for s in stages if s]
    if not stages:
        return 0.0
    busiest = max(stages, key=lambda ts: sum(t["run"] for t in ts))
    runs = [t["run"] for t in busiest]
    return max(runs) / max(statistics.median(runs), 0.001)


def analyze(tracer: Tracer, log_dir: str, n_cores: int, extra: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics, each a mean over the timed operations (ratios
    are taken over the whole timed phase)."""
    jobs, stage_tasks = _read_event_log(log_dir)
    span_by_id = {s["id"]: s for s in tracer.spans}
    per_op = []
    for i, op in enumerate(tracer.ops):
        c = op["counters"]
        wall = op["t1"] - op["t0"]
        self_s = defaultdict(float)
        for s in tracer.spans:
            if s["op"] == i:
                key = s["layer"] + (f".{s['part']}" if s["part"] else "")
                self_s[key] += (s["t1"] - s["t0"]) - s["children_s"]
        layer_jobs = defaultdict(list)
        for j in jobs.values():
            s = span_by_id.get(j["group"])
            if s is not None and s["op"] == i:
                layer_jobs[s["layer"]].append(j)
        stage_lists = {
            layer: [stage_tasks.get(sid, []) for j in js for sid in j["own_stages"]]
            for layer, js in layer_jobs.items()
        }
        flat = lambda layer: [t for ts in stage_lists.get(layer, []) for t in ts]  # noqa: E731
        all_tasks = [t for layer in stage_lists for t in flat(layer)]
        busy = _union(
            [(max(j["t0"], op["t0"]), min(j.get("t1", op["t1"]), op["t1"]))
             for js in layer_jobs.values() for j in js]
        )
        layer_self = lambda layer: sum(v for k, v in self_s.items() if k.split(".")[0] == layer)  # noqa: E731
        rows = lambda stage: c.get(f"rows.{stage}", 0.0)  # noqa: E731
        growth = op["growth"]
        m = {
            "extraction.wall_s": layer_self("extraction"),
            "extraction.task_s": sum(t["run"] for t in flat("extraction")),
            "extraction.shuffle_bytes": sum(t["shuffle"] for t in flat("extraction")),
            "extraction.rows_out": rows("triples_str"),
            "linking.wall_s": layer_self("linking"),
            "linking.jobs": len(layer_jobs.get("linking", [])),
            "dictionary.wall_s": layer_self("dictionary"),
            "dictionary.terms": rows("dict_terms"),
            "dictionary.shuffle_bytes": sum(t["shuffle"] for t in flat("dictionary")),
            "dictionary.spill_bytes": sum(t["spill"] for t in flat("dictionary")),
            "dictionary.task_skew": _skew(stage_lists.get("dictionary", [])),
            "encoding.spo_s": self_s.get("encoding.spo", 0.0),
            "encoding.ops_s": self_s.get("encoding.ops", 0.0),
            "encoding.pso_s": self_s.get("encoding.pso", 0.0),
            "encoding.stats_s": self_s.get("encoding.stats", 0.0),
            "encoding.shuffle_bytes": sum(t["shuffle"] for t in flat("encoding")),
            "encoding.task_skew": _skew(stage_lists.get("encoding", [])),
            "merge.self_s": layer_self("merge"),
            "merge.delta_terms": c.get("merge.delta_terms", 0.0),
            "merge.shuffle_bytes": sum(t["shuffle"] for t in flat("merge")),
            "catalog.bytes_written": c.get("catalog.bytes_written", 0.0),
            "catalog.files_written": c.get("catalog.files_written", 0.0),
            "catalog.footer_s": c.get("catalog.footer_s", 0.0),
            "catalog.write_amp": c.get("catalog.bytes_written", 0.0) / growth if growth > 0 else 0.0,
            "spark.driver_gap_s": wall - busy,
            "spark.gc_s": sum(t["gc"] for t in all_tasks),
            "spark.failed_tasks": sum(t["failed"] for t in all_tasks),
            "pipeline.self_s": layer_self("pipeline"),
            "trace.wall_s": wall,
            "_task_s": sum(t["run"] for t in all_tasks),
        }
        per_op.append(m)
    out = {k: statistics.fmean(m[k] for m in per_op) for k in per_op[0] if not k.startswith("_")}
    total_wall = sum(m["trace.wall_s"] for m in per_op)
    out["spark.core_busy_frac"] = sum(m["_task_s"] for m in per_op) / (total_wall * n_cores)
    out["trace.op_p50_s"] = statistics.median(m["trace.wall_s"] for m in per_op)
    out["trace.bookkeeping_s"] = tracer.bookkeeping_s / len(per_op)
    out.update(extra)
    return out
