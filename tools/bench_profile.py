"""Per-query stage/task profile via the Spark event log (guide §1/§7).

Runs the named queries exactly like bench.py (same session factory, noop
sink, best-of-2) but with the event log enabled and each run labelled by
its job group (iterative operators label their rounds through the job
description), then parses the log into a per-query breakdown:

  jobs, stages, tasks, task-time sum, max single stage, shuffle
  read/write bytes — the numbers that say whether a slow query is
  scheduling-bound (many tiny stages), shuffle-bound (bytes), or
  skew-bound (one fat stage).

Usage: python tools/bench_profile.py [sf_dir] query [query ...]
Writes /tmp/bench_profile_summary.json and prints one line per query.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from federated_gcn_spark.plans import QUERIES  # noqa: E402
from federated_gcn_spark.session import get_spark  # noqa: E402


def _open_maybe_zstd(fp: str):
    if fp.endswith(".zstd"):
        import io

        import zstandard

        return io.TextIOWrapper(
            zstandard.ZstdDecompressor().stream_reader(open(fp, "rb"))
        )
    return open(fp)


def _eventlog_lines(path: str):
    """Yield lines from a single-file or v2-directory event log."""
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            if name.startswith(("events_", "eventLog")):
                with _open_maybe_zstd(os.path.join(path, name)) as fh:
                    yield from fh
        return
    with _open_maybe_zstd(path) as fh:
        yield from fh


def parse_eventlog(path: str) -> dict:
    """query label -> aggregate job/stage/task metrics."""
    if not os.path.exists(path):
        cand = path + "_"  # eventlog_v2_<appid> directory layout
        parent, base = os.path.split(path)
        v2 = os.path.join(parent, f"eventlog_v2_{base}")
        if os.path.exists(v2):
            path = v2
        elif os.path.exists(cand):
            path = cand
    # jobId -> label; stageId -> jobId; per-stage metrics
    job_label: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    stage_meta: dict[int, dict] = {}
    if True:
        for line in _eventlog_lines(path):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                jid = ev["Job ID"]
                label = ev.get("Properties", {}).get("spark.jobGroup.id", "")
                job_label[jid] = label
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                meta = stage_meta.setdefault(
                    sid,
                    {"wall_ms": 0, "n_tasks": 0, "task_ms": 0,
                     "shuf_read": 0, "shuf_write": 0, "input": 0},
                )
                meta["wall_ms"] = (comp - sub) if sub and comp else 0
                meta["n_tasks"] = si.get("Number of Tasks", 0)
            elif et == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                meta = stage_meta.setdefault(
                    sid,
                    {"wall_ms": 0, "n_tasks": 0, "task_ms": 0,
                     "shuf_read": 0, "shuf_write": 0, "input": 0},
                )
                meta["task_ms"] += m.get("Executor Run Time", 0)
                meta["shuf_read"] += (m.get("Shuffle Read Metrics") or {}).get(
                    "Remote Bytes Read", 0
                ) + (m.get("Shuffle Read Metrics") or {}).get(
                    "Local Bytes Read", 0
                )
                meta["shuf_write"] += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                meta["input"] += (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0
                )
    out: dict[str, dict] = {}
    for sid, meta in stage_meta.items():
        label = job_label.get(stage_job.get(sid, -1), "")
        q = out.setdefault(
            label,
            {"jobs": set(), "stages": 0, "tasks": 0, "stage_wall_ms": 0,
             "task_ms": 0, "max_stage_ms": 0, "shuf_read": 0,
             "shuf_write": 0, "input": 0},
        )
        q["jobs"].add(stage_job.get(sid, -1))
        q["stages"] += 1
        q["tasks"] += meta["n_tasks"]
        q["stage_wall_ms"] += meta["wall_ms"]
        q["max_stage_ms"] = max(q["max_stage_ms"], meta["wall_ms"])
        q["task_ms"] += meta["task_ms"]
        q["shuf_read"] += meta["shuf_read"]
        q["shuf_write"] += meta["shuf_write"]
        q["input"] += meta["input"]
    for q in out.values():
        q["jobs"] = len(q["jobs"])
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:]
    if not names:
        print("usage: bench_profile.py [sf_dir] query [query ...]")
        return 2
    log_dir = tempfile.mkdtemp(prefix="sparklog_")
    spark = get_spark(
        "bench-profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    warm = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    warm.write.format("noop").mode("overwrite").save()

    times: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for i in range(2):
            spark.sparkContext.setJobGroup(f"{name}#run{i}", f"{name}#run{i}")
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        times[name] = round(best, 3)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    log_path = os.path.join(log_dir, app_id)
    prof = parse_eventlog(log_path)
    # merge run0/run1 labels, keep per-run
    summary = {}
    for name in names:
        for i in range(2):
            lab = f"{name}#run{i}"
            if lab in prof:
                p = prof[lab]
                summary[lab] = {
                    "wall_s": times[name] if i == 1 else None,
                    **{k: v for k, v in p.items()},
                }
    print(json.dumps({"best_s": times}, indent=None))
    for lab in sorted(summary):
        p = summary[lab]
        print(
            f"{lab:44s} jobs={p['jobs']:3d} stages={p['stages']:4d} "
            f"tasks={p['tasks']:5d} stage_wall={p['stage_wall_ms']/1000:7.2f}s "
            f"task_sum={p['task_ms']/1000:7.2f}s max_stage={p['max_stage_ms']/1000:6.2f}s "
            f"shR={p['shuf_read']/1e6:8.1f}MB shW={p['shuf_write']/1e6:8.1f}MB "
            f"in={p['input']/1e6:8.1f}MB"
        )
    with open("/tmp/bench_profile_summary.json", "w") as fh:
        json.dump({"times": times, "profile": summary}, fh, default=str)
    print(f"eventlog: {log_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
