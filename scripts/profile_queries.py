"""Per-query job-level profiler for the optimization round.

Runs the named queries standalone (fresh session, noop sink) with the
Spark event log enabled, then parses the event log into a per-query job
breakdown: job count, per-job wall, shuffle read/write bytes, task count.
This is the guide §1 "measure first" instrument for a UI-less sandbox —
the event log carries the same stage/task metrics the UI renders.

Usage: python scripts/profile_queries.py q1 q2 ...  [--sf DIR]
Writes /tmp/profile_<query>.json + prints a compact table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fluss_iceberg_spark import registry
from fluss_iceberg_spark.session import get_spark

EVENTDIR = "/tmp/spark-events"


def run_one(name: str, sf_dir: str) -> dict:
    os.makedirs(EVENTDIR, exist_ok=True)
    before = set(os.listdir(EVENTDIR))
    spark = get_spark(
        app_name=f"profile-{name}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVENTDIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()  # warmup
    t0 = time.perf_counter()
    df = registry.QUERIES[name](spark, sf_dir)
    t_build = time.perf_counter() - t0
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t_exec = time.perf_counter() - t1
    spark.stop()
    # find the new event log
    new = [f for f in os.listdir(EVENTDIR) if f not in before]
    jobs = parse_log(os.path.join(EVENTDIR, new[0])) if new else []
    return {
        "query": name,
        "build_s": round(t_build, 3),
        "exec_s": round(t_exec, 3),
        "total_s": round(t_build + t_exec, 3),
        "n_jobs": len(jobs),
        "jobs": jobs,
    }


def _log_lines(path: str):
    if os.path.isdir(path):  # Spark 4 rolling event-log dir
        for f in sorted(os.listdir(path)):
            fp = os.path.join(path, f)
            if os.path.isfile(fp) and "events" in f:
                with open(fp) as fh:
                    yield from fh
    else:
        with open(path) as fh:
            yield from fh


def parse_log(path: str) -> list[dict]:
    jobs: dict[int, dict] = {}
    stage_to_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    if True:
        for line in _log_lines(path):
            try:
                ev = json.loads(line)
            except Exception:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "job": jid,
                    "t0": ev["Submission Time"],
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    )[:80],
                    "stages": len(ev.get("Stage Infos", [])),
                    "tasks": sum(
                        s.get("Number of Tasks", 0)
                        for s in ev.get("Stage Infos", [])
                    ),
                }
                for s in ev.get("Stage Infos", []):
                    stage_to_job[s["Stage ID"]] = jid
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["wall_s"] = round(
                        (ev["Completion Time"] - jobs[jid].pop("t0")) / 1000.0, 3
                    )
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                stages[sid] = si
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                jid = stage_to_job.get(sid)
                if jid is None:
                    continue
                j = jobs[jid]
                m = ev.get("Task Metrics") or {}
                # CPU is the nanosecond "Executor CPU Time" metric; the
                # millisecond "Executor Run Time" is task WALL (it counts
                # blocking on Python workers / cache fills) — keep both,
                # labeled correctly.
                j["cpu_ms"] = j.get("cpu_ms", 0) + m.get(
                    "Executor CPU Time", 0
                ) // 1_000_000
                j["run_ms"] = j.get("run_ms", 0) + m.get(
                    "Executor Run Time", 0
                )
                sr = (m.get("Shuffle Read Metrics") or {})
                sw = (m.get("Shuffle Write Metrics") or {})
                j["shuf_r_mb"] = round(
                    j.get("shuf_r_mb", 0)
                    + (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                    )
                    / 1e6,
                    2,
                )
                j["shuf_w_mb"] = round(
                    j.get("shuf_w_mb", 0) + sw.get("Shuffle Bytes Written", 0) / 1e6, 2
                )
                j["py_ms"] = j.get("py_ms", 0)
    out = sorted(jobs.values(), key=lambda j: -j.get("wall_s", 0))
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ap = argparse.ArgumentParser(description="Per-query Spark job profile.")
    ap.add_argument("queries", nargs="+", help="registered query names")
    ap.add_argument("--sf", default=sf_dir,
                    help="TPC-H data dir (default: $SPARK_GRAFT_SF_DIR)")
    args = ap.parse_args()
    registry.load_all()
    for name in args.queries:
        r = run_one(name, args.sf)
        with open(f"/tmp/profile_{name}.json", "w") as f:
            json.dump(r, f, indent=1)
        print(
            f"\n=== {name}: total {r['total_s']}s "
            f"(build {r['build_s']} + exec {r['exec_s']}), {r['n_jobs']} jobs"
        )
        for j in r["jobs"][:15]:
            print(
                f"  job {j['job']:>3} {j.get('wall_s', '?'):>7}s "
                f"tasks={j['tasks']:>4} cpu={j.get('cpu_ms', 0):>7}ms "
                f"shufR={j.get('shuf_r_mb', 0):>8} shufW={j.get('shuf_w_mb', 0):>8} "
                f"{j['desc']}"
            )


if __name__ == "__main__":
    main()
