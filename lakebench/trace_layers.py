"""Traced runs: span recorders around the engine's public entry points and a
reducer from the Spark event log to per-op layer counts.

Spans are installed from here, around calls into each layer (nothing inside
the program changes) and record only during the timed phase:

- ``pipeline.*``: ``ReferencePipeline.process_order_batch`` / ``tier_enriched``
- ``engine.sql``: ``Engine.sql`` (a SELECT returns an analysed DataFrame; DML
  runs eagerly)
- ``lake.*``: the public ``LakeTable`` methods and ``LakeCatalog.load``
- ``registry.build``: the registered query callables of ``registry.QUERIES``

Each span has a name, start, end, parent span and op id; the spans are kept
in memory and written to ``.bench_run/results/<workload>-seed<n>-spans.jsonl``
at the end. Layer
metrics are means per timed op (``.read`` / ``.write`` variants over reads
and over writes or ticks only), except the ``pipeline`` spans, which are
per tick, and the streaming phases, which are per-tick medians of the
query's own ``durationMs``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time

LAKE_METHODS = ("snapshot", "read", "merge", "append", "update", "delete",
                "write_hot_batch", "tier", "plan_scan")
PY_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
PY_NODES = ("Python", "Pandas", "Arrow")
STREAM_PHASES = {
    "latestOffset": "streaming.latest_offset_ms", "getBatch": "streaming.get_batch_ms",
    "queryPlanning": "streaming.query_planning_ms", "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms", "addBatch": "streaming.add_batch_ms",
}


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "op", "info")

    def __init__(self, sid, name, start, parent, info):
        self.id, self.name, self.start, self.parent, self.info = sid, name, start, parent, info
        self.end = None
        self.op = None


class Tracer:
    def __init__(self, run_dir: str):
        self.event_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(self.event_dir, exist_ok=True)
        self.spans: list[Span] = []
        self.active = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self.batch_jobs: list[tuple[float, float, int]] = []  # statusTracker per tick

    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.event_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        }

    # ------------------------------------------------------------ spans

    def _wrap(self, owner, attr: str, name: str, info_fn=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            stack = self._local.__dict__.setdefault("stack", [])
            with self._lock:
                span = Span(len(self.spans), name, time.time(),
                            stack[-1].id if stack else None,
                            info_fn(args, kwargs) if info_fn else None)
                self.spans.append(span)
            stack.append(span)
            try:
                out = orig(*args, **kwargs)
                if attr == "plan_scan" and args[1:2] and args[1]:
                    snap = kwargs.get("snapshot") or (args[2] if len(args) > 2 else None)
                    live = len(snap.files) if snap is not None else None
                    span.info = (len(out), live)
                return out
            finally:
                span.end = time.time()
                stack.pop()

        setattr(owner, attr, traced)

    def install(self) -> None:
        from fluss_iceberg_spark import registry
        from fluss_iceberg_spark.engine import Engine
        from fluss_iceberg_spark.lake.table import LakeCatalog, LakeTable
        from fluss_iceberg_spark.streaming.pipeline import ReferencePipeline

        self._wrap(ReferencePipeline, "process_order_batch", "pipeline.process_batch")
        self._wrap(ReferencePipeline, "tier_enriched", "pipeline.tier")
        self._wrap_tick_jobs(ReferencePipeline)
        self._wrap(Engine, "sql", "engine.sql", lambda a, k: _stmt_kind(a[1]))
        for m in LAKE_METHODS:
            self._wrap(LakeTable, m, f"lake.{m}")
        self._wrap(LakeCatalog, "load", "lake.catalog_load")
        registry.load_all()
        for name, fn in list(registry.QUERIES.items()):
            holder = type("Holder", (), {"fn": staticmethod(fn)})
            self._wrap(holder, "fn", "registry.build")
            registry.QUERIES[name] = holder.fn

    def _wrap_tick_jobs(self, cls) -> None:
        """Count each foreachBatch call's jobs with the status tracker, for
        the cross-check against the event-log reducer."""
        orig_process, orig_tier = cls.process_order_batch, cls.tier_enriched
        tracer = self

        def known_jobs(pipe) -> set[int]:
            sc = pipe.spark.sparkContext
            st = sc.statusTracker()
            group = sc.getLocalProperty("spark.jobGroup.id")
            return set(st.getJobIdsForGroup(None)) | (
                set(st.getJobIdsForGroup(group)) if group else set())

        def process(pipe, *a, **k):
            if tracer.active:
                pipe._lakebench_tick = (time.time(), known_jobs(pipe))
            return orig_process(pipe, *a, **k)

        def tier(pipe, *a, **k):
            out = orig_tier(pipe, *a, **k)
            start = getattr(pipe, "_lakebench_tick", None)
            if tracer.active and start:
                tracer.batch_jobs.append(
                    (start[0], time.time(), len(known_jobs(pipe) - start[1])))
                pipe._lakebench_tick = None
            return out

        cls.process_order_batch, cls.tier_enriched = process, tier

    # --------------------------------------------------------- phases

    def begin(self, w) -> None:
        self.versions0 = _versions(getattr(w, "eng", None))
        self.active = True

    def end(self, w) -> None:
        self.active = False
        self.versions1 = _versions(getattr(w, "eng", None))

    # -------------------------------------------------------- reduce

    def reduce(self, w, session_s: float, peak_rss_mb: float) -> dict:
        """Per-layer metrics of the timed phase (call after spark.stop())."""
        ops = w.ops.intervals
        for s in self.spans:
            s.op = next((i for i, (_, t0, t1) in enumerate(ops)
                         if t0 - 0.002 <= s.start <= t1 + 0.002), None)
        from common import WORK_ROOT

        os.makedirs(os.path.join(WORK_ROOT, "results"), exist_ok=True)
        spans_path = os.path.join(WORK_ROOT, "results", f"{w.name}-seed{w.seed}-spans.jsonl")
        with open(spans_path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                                    "parent": s.parent, "op": s.op, "info": s.info}) + "\n")
        log = EventLog(glob.glob(os.path.join(self.event_dir, "*"))[0])
        m: dict[str, tuple[float, str]] = {"session.start_s": (session_s, "s"),
                                           "session.peak_rss_mb": (peak_rss_mb, "MB")}

        ticks = getattr(w, "progress", [])
        for phase, name in STREAM_PHASES.items():
            vals = [p["durationMs"].get(phase, 0) for p in ticks]
            m[name] = (statistics.median(vals) if vals else 0.0, "ms")
        m["streaming.ticks"] = (len(ticks), "count")

        all_ids = set(range(len(ops)))
        n_ops = max(len(ops), 1)
        spans = [s for s in self.spans if s.op is not None]

        def total(name, pred=lambda s: True):
            return sum(s.end - s.start for s in spans if s.name == name and pred(s)
                       and not _nested_same(s, self.spans)) / n_ops

        def calls(name):
            return sum(1 for s in spans if s.name == name) / n_ops

        m["pipeline.process_batch_s"] = (_per_tick(self.spans, "pipeline.process_batch", ticks), "s")
        m["pipeline.tier_s"] = (_per_tick(self.spans, "pipeline.tier", ticks), "s")
        m["engine.select_s"] = (total("engine.sql", lambda s: s.info == "select"), "s")
        m["engine.dml_s"] = (total("engine.sql", lambda s: s.info != "select"), "s")
        m["engine.calls"] = (calls("engine.sql"), "count")
        for meth in ("snapshot", "read", "merge"):
            m[f"lake.{meth}_calls"] = (calls(f"lake.{meth}"), "count")
            m[f"lake.{meth}_s"] = (total(f"lake.{meth}"), "s")
        for meth in ("append", "update", "delete", "write_hot_batch", "tier"):
            m[f"lake.{meth}_s"] = (total(f"lake.{meth}"), "s")
        m["lake.catalog_load_calls"] = (calls("lake.catalog_load"), "count")
        commits = sum(self.versions1.get(t, -1) - v for t, v in self.versions0.items())
        m["lake.commits"] = (commits / n_ops, "count")
        json_bytes, files_live = _lake_footprint(getattr(w, "eng", None))
        m["lake.snapshot_json_bytes"] = (json_bytes, "bytes")
        m["lake.files_live"] = (files_live, "count")
        kept = [s.info for s in spans if s.name == "lake.plan_scan" and s.info and s.info[1]]
        m["lake.files_kept_frac"] = (
            sum(k for k, _ in kept) / sum(n for _, n in kept) if kept else 0.0, "ratio")
        m["registry.build_s"] = (total("registry.build"), "s")
        for layer in ("pipeline", "engine", "lake", "registry"):
            m[f"{layer}.self_s"] = (_self_time(self.spans, layer, all_ids) / n_ops, "s")

        per_op = log.per_op(ops)
        for key, unit in (
            ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
            ("executor_run_s", "s"), ("executor_cpu_s", "s"),
            ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
            ("driver_gap_s", "s"),
        ):
            m[f"spark.{key}"] = (_mean(per_op, key, all_ids), unit)
        for split, pred in (("read", "read"), ("write", ("write", "tick"))):
            ids = {i for i, iv in enumerate(ops) if iv[0].startswith(pred)}
            m[f"spark.jobs.{split}"] = (_mean(per_op, "jobs", ids), "count")
            m[f"spark.driver_gap_s.{split}"] = (_mean(per_op, "driver_gap_s", ids), "s")
        for name in list(PY_METRICS.values()) + ["python.rows_received"]:
            unit = "ms" if name.endswith("_ms") else ("bytes" if "bytes" in name else "count")
            m[name] = (_mean(per_op, name, all_ids), unit)

        self.cross_check = self._cross_check(log, per_op, ops)
        m["spark.jobs_statustracker"] = (
            statistics.mean(n for _, _, n in self.batch_jobs) if self.batch_jobs else 0.0,
            "count")
        return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}

    def _cross_check(self, log, per_op, ops) -> list[tuple[str, bool, str]]:
        out = []
        gaps = [p["driver_gap_s"] for p in per_op]
        out.append(("trace: driver gap never negative", all(g >= 0 for g in gaps),
                    f"min {min(gaps):.4f} s over {len(gaps)} ops" if gaps else "no ops"))
        if self.batch_jobs:
            pairs = [(log.jobs_between(t0, t1), n) for t0, t1, n in self.batch_jobs]
            ok = all(a == b for a, b in pairs)
            out.append(("trace: event-log jobs per tick == statusTracker", ok,
                        f"{pairs[:6]} (event log, status tracker)"))
        return out

    def overhead(self, workload: str, seed: int, traced: dict) -> list[str]:
        """Traced minus untraced, per end-to-end metric, against the untraced
        record of the same workload and seed in this checkout (any seed if
        there is none)."""
        from common import WORK_ROOT

        res = os.path.join(WORK_ROOT, "results")
        path = os.path.join(res, f"{workload}-seed{seed}-trace0.json")
        if not os.path.exists(path):
            alt = sorted(glob.glob(os.path.join(res, f"{workload}-seed*-trace0.json")))
            if not alt:
                return ["no untraced record of this workload in .bench_run/results"]
            path = alt[-1]
        with open(path) as f:
            base = json.load(f)["end_to_end"]
        lines = [f"vs {os.path.basename(path)}"]
        for k, v in traced.items():
            if k in base and isinstance(v["value"], (int, float)) and base[k]["value"]:
                d = v["value"] - base[k]["value"]
                lines.append(f"{k}: {d:+.6g} {v['unit']} ({d / base[k]['value']:+.1%})")
        return lines


# ------------------------------------------------------------ helpers


def _stmt_kind(text: str) -> str:
    head = text.lstrip().split(None, 1)[0].upper() if text.strip() else ""
    return "select" if head in ("SELECT", "WITH", "EXPLAIN") else "dml"


def _nested_same(s: Span, spans: list[Span]) -> bool:
    """True if a span of the same name encloses ``s`` (counted once)."""
    p = s.parent
    while p is not None:
        if spans[p].name == s.name:
            return True
        p = spans[p].parent
    return False


def _per_tick(spans, name, ticks) -> float:
    xs = [s.end - s.start for s in spans if s.name == name and s.end is not None]
    return sum(xs) / max(len(ticks), 1)


def _self_time(spans: list[Span], layer: str, ids) -> float:
    """Summed self time of a layer's spans: each span's duration minus the
    part of it its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    total = 0.0
    for s in spans:
        if s.name.split(".")[0] != layer or s.op not in ids or s.end is None:
            continue
        covered = _union([(c.start, c.end) for c in children.get(s.id, []) if c.end])
        total += (s.end - s.start) - covered
    return total


def _union(ivs: list[tuple[float, float]]) -> float:
    total, cur = 0.0, None
    for a, b in sorted(ivs):
        if cur is None or a > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur:
        total += cur[1] - cur[0]
    return total


def _mean(per_op: list[dict], key: str, ids) -> float:
    xs = [per_op[i].get(key, 0) for i in ids if i < len(per_op)]
    return sum(xs) / len(xs) if xs else 0.0


def _versions(eng) -> dict[str, int]:
    if eng is None:
        return {}
    cat = eng.catalog
    return {t: cat.load(t).current_version() for t in cat.tables()}


def _lake_footprint(eng) -> tuple[int, int]:
    """(bytes of every table's current snapshot JSON, live data files)."""
    if eng is None:
        return 0, 0
    cat = eng.catalog
    size = files = 0
    for name in cat.tables():
        t = cat.load(name)
        v = t.current_version()
        if v < 0:
            continue
        size += os.path.getsize(os.path.join(t.path, "meta", f"v{v}.json"))
        files += len(t.snapshot().files)
    return size, files


class EventLog:
    """The Spark event log, reduced to jobs, stage/task metrics and the
    Python-runner SQL metrics."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, list[dict]] = {}
        self.py_accums: dict[int, str] = {}
        for line in open(path):
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                self.jobs[e["Job ID"]] = {"start": e["Submission Time"] / 1000,
                                          "end": None, "stages": e["Stage IDs"]}
                for sid in e["Stage IDs"]:
                    self.stage_job[sid] = e["Job ID"]
            elif ev == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
            elif ev == "SparkListenerTaskEnd":
                self.stage_tasks.setdefault(e["Stage ID"], []).append(e)
            elif "sparkPlanInfo" in e:
                self._plan(e["sparkPlanInfo"], False)

    def _plan(self, node: dict, in_py: bool) -> None:
        py = any(k in node["nodeName"] for k in PY_NODES)
        for mt in node.get("metrics", []):
            if mt["name"] in PY_METRICS:
                self.py_accums[mt["accumulatorId"]] = PY_METRICS[mt["name"]]
            elif py and mt["name"] == "number of output rows":
                self.py_accums[mt["accumulatorId"]] = "python.rows_received"
        for c in node.get("children", []):
            self._plan(c, py)

    def jobs_between(self, t0: float, t1: float) -> int:
        return sum(1 for j in self.jobs.values() if t0 - 0.001 <= j["start"] <= t1 + 0.001)

    def per_op(self, ops: list[tuple[str, float, float]]) -> list[dict]:
        """Spark work of each op: the jobs submitted inside its interval."""
        out = []
        for _, t0, t1 in ops:
            r = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
                 "executor_cpu_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}
            ivs = []
            for j in self.jobs.values():
                if not (t0 - 0.001 <= j["start"] <= t1 + 0.001):
                    continue
                r["jobs"] += 1
                ivs.append((max(j["start"], t0), min(j["end"] or t1, t1)))
                for sid in j["stages"]:
                    tasks = self.stage_tasks.get(sid, [])
                    r["stages"] += 1 if tasks else 0
                    for t in tasks:
                        self._task(r, t)
            r["driver_gap_s"] = (t1 - t0) - _union([iv for iv in ivs if iv[1] > iv[0]])
            out.append(r)
        return out

    def _task(self, r: dict, t: dict) -> None:
        r["tasks"] += 1
        tm = t.get("Task Metrics") or {}
        r["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000
        r["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        sr = tm.get("Shuffle Read Metrics") or {}
        r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        r["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        for acc in (t.get("Task Info") or {}).get("Accumulables", []):
            name = self.py_accums.get(acc.get("ID"))
            if name:
                r[name] = r.get(name, 0) + int(acc.get("Update") or 0)
