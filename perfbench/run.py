"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload fl_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run builds its inputs from the
seed, sets up once (``setup_s``: JVM launch, session, inputs), times a
cold pass and then warm passes for ``--seconds``, checks every
output once, and prints one JSON object as its last line of standard
output. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
turns the Spark event log on and reports the per-layer metrics of
``METRICS`` instead. Everything a run writes stays under
``perfbench/_work``; a summary of each run lands in
``perfbench/_work/results``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import checks
import host
import workloads
from spans import EventLogSwitch, Recorder, parse_event_log, span_counters

HERE = os.path.dirname(os.path.abspath(__file__))
MASTER = "local[4]"

# name -> unit. cold_cpu_s is the CPU time (user and system) that the
# cold pass costs the driver, the JVM and the Python workers together.
# The passes' wall times (cold_s, wall_s) are printed and stored but not
# reported here: on a shared 4-core host they measure the neighbours as
# much as the program (another process busy on every core doubled them),
# and across seeds they spread by more than a quarter of their median,
# while the CPU time of the same passes stayed within a few percent.
END_TO_END = {
    "setup_s": "s",
    "cold_cpu_s": "s",
    "peak_rss_mb": "MB",
}
COUNTERS = {  # counter -> unit
    "wall_s": "s", "jobs": "count", "jobs_spread": "count", "stages": "count",
    "tasks": "count", "task_cpu_s": "s", "shuffle_bytes": "B", "input_bytes": "B",
    "driver_gap_s": "s", "supersteps": "count", "jobs_per_superstep": "count",
    "round_wall_s": "s", "auc": "ratio",
}
SPAN_COUNTERS = {"session.get_spark": ("wall_s",)} | {
    span: counters for w in workloads.WORKLOADS.values() for span, counters in w.spans.items()
}
# the control queries' event-log counters, summed over the queries of a pass
PLAN_TOTALS = ("task_cpu_s", "shuffle_bytes", "input_bytes", "driver_gap_s")
PASS_METRICS = {f"plans.{c}": COUNTERS[c] for c in PLAN_TOTALS} | {  # whole-pass numbers
    "pass.harness_wall_s": "s",
    "pass.traced_wall_s": "s",
    "pass.untraced_wall_s": "s",
    "pass.untraced_cpu_s": "s",
    "pass.trace_overhead_s": "s",
    "pass.span_share": "ratio",
}
METRICS = {
    f"{span}.{c}": COUNTERS[c] for span, cs in SPAN_COUNTERS.items() for c in cs
} | PASS_METRICS


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(root: str, work: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers Spark starts import the package from it."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    sys.path.insert(0, root)


def start_session(work: str, trace: bool):
    from federated_gcn_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf |= {"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                 "spark.eventLog.compress": "false"}
    spark = get_spark("perfbench", master=MASTER, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> list[int]:
    """Stop the session, then the JVM behind it, and wait until every
    process under this one (the JVM, the Python workers) has ended.
    Returns the processes that had to be killed."""
    from pyspark import SparkContext

    started = [p for p in host.process_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return host.wait_exited(started)
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    return host.wait_exited(started)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.trace = bool(args.trace)
        self.work = work
        self.wl = workloads.WORKLOADS[args.workload](args.seed, self.work)
        self.spark = None
        self.setup_s = 0.0
        self.session_s = 0.0
        self.passes: list[dict] = []  # {no, wall_s, cpu_s, traced, error}
        self.rec = None
        self.switch = None
        self.errors: list[str] = []

    def setup(self) -> None:
        """One set-up, as a user pays it: launch the JVM and start the
        session, warm it up, write the inputs, stage them. It is not
        repeated: a second set-up in the same process would reuse the
        JVM, and launching another costs as much as a warm pass."""
        t0 = time.perf_counter()
        self.spark = start_session(self.work, self.trace)
        # JVM warm-up: the first job of a session pays class loading
        self.spark.range(1000).selectExpr("sum(id)").collect()
        self.session_s = time.perf_counter() - t0
        self.wl.generate()
        self.wl.stage(self.spark)
        self.setup_s = time.perf_counter() - t0

    def one_pass(self, traced: bool) -> dict:
        no = len(self.passes)
        if self.switch is not None:
            (self.switch.attach if traced else self.switch.detach)()
        workloads.clear_outputs(self.work)
        out = os.path.join(self.work, f"pass_{no}")
        c0 = host.tree_cpu_s()
        t0 = time.perf_counter()
        p = {"no": no, "traced": traced, "error": None}
        try:
            self.wl.run_pass(self.spark, self.rec, no, out)
        except Exception:
            p["error"] = traceback.format_exc(limit=3)
            self.errors.append(p["error"])
        p["wall_s"] = time.perf_counter() - t0
        p["cpu_s"] = host.tree_cpu_s() - c0
        self.passes.append(p)
        return p

    def measure(self) -> None:
        self.rec = Recorder(self.spark.sparkContext)
        self.switch = EventLogSwitch(self.spark.sparkContext) if self.trace else None
        if self.one_pass(traced=self.trace)["error"]:
            return  # the cold pass failed: the warm ones would too
        # warm passes until --seconds are spent. A traced run alternates
        # traced and untraced passes, at least one of each, traced first
        t0 = time.perf_counter()
        min_warm = 2 if self.trace else 1
        while True:
            p = self.one_pass(traced=self.trace and len(self.passes) % 2 == 1)
            elapsed = time.perf_counter() - t0
            if p["error"] or (len(self.passes) > min_warm
                              and elapsed + p["wall_s"] > self.args.seconds):
                break
        if self.switch is not None:
            self.switch.attach()

    def warm(self, key: str = "wall_s") -> list[float]:
        """Wall (or CPU) times of the warm passes the event log did not
        record."""
        return [p[key] for p in self.passes[1:] if not p["traced"] and not p["error"]]

    def verify(self) -> list:
        if any(p["error"] for p in self.passes) or len(self.passes) < 2:
            return [checks.Check("passes_completed", span, False, "a pass failed")
                    for span in self.wl.spans]
        try:
            return self.wl.checks(self.spark)
        except Exception:
            err = traceback.format_exc(limit=3)
            self.errors.append(err)
            return [checks.Check("checks_ran", span, False, err) for span in self.wl.spans]


def layer_metrics(runner: Runner, app_id: str) -> dict[str, float]:
    """Per-layer counters of the traced warm passes (median), job-count
    spread over every traced pass, and the tracing overhead."""
    groups = parse_event_log(os.path.join(runner.work, "eventlog"), app_id)
    traced = {p["no"] for p in runner.passes if p["traced"] and not p["error"]}
    warm = sorted(traced - {0} or traced)
    # span -> pass -> counters. A span entered more than once in a pass
    # (the harness) adds up its wall and gap; its job group is shared.
    per: dict[str, dict[int, dict]] = {}
    for s in runner.rec.spans:
        if s.pass_no not in traced:
            continue
        c = span_counters(s, groups)
        seen = per.setdefault(s.name, {}).get(s.pass_no)
        if seen is None:
            per[s.name][s.pass_no] = c
        else:
            seen["wall_s"] += c["wall_s"]
            seen["driver_gap_s"] += c["driver_gap_s"]
    out = {name: 0.0 for name in METRICS}
    for name, by_pass in per.items():
        for c in SPAN_COUNTERS.get(name, ()):
            vals = [by_pass[n][c] for n in warm if n in by_pass and c in by_pass[n]]
            if vals:
                out[f"{name}.{c}"] = float(median(vals))
        if f"{name}.jobs_spread" in out:
            jobs = [v["jobs"] for v in by_pass.values()]
            out[f"{name}.jobs_spread"] = float(max(jobs) - min(jobs))
    plans = [by_pass for name, by_pass in per.items() if name.startswith(workloads.QUERY_PREFIX)]
    if plans:
        for c in PLAN_TOTALS:
            out[f"plans.{c}"] = float(median([sum(bp[n][c] for bp in plans if n in bp)
                                              for n in warm]))
    if workloads.HARNESS_SPAN in per:
        harness = per[workloads.HARNESS_SPAN]
        out["pass.harness_wall_s"] = median([harness[n]["wall_s"] for n in warm if n in harness])
    out["session.get_spark.wall_s"] = runner.session_s
    for k, v in runner.wl.layer_extras().items():
        out[k] = v
    for span in runner.wl.spans:
        steps = out.get(f"{span}.supersteps", 0.0)
        if f"{span}.jobs_per_superstep" in out and steps:
            out[f"{span}.jobs_per_superstep"] = out[f"{span}.jobs"] / steps
    warm_passes = [p for p in runner.passes if p["no"] in warm]
    t_wall = median([p["wall_s"] for p in warm_passes])
    out["pass.traced_wall_s"] = t_wall
    out["pass.untraced_wall_s"] = median(runner.warm())
    out["pass.untraced_cpu_s"] = median(runner.warm("cpu_s"))
    out["pass.trace_overhead_s"] = t_wall - out["pass.untraced_wall_s"]
    out["pass.span_share"] = median([
        sum(s.wall_s for s in runner.rec.spans if s.pass_no == p["no"]) / p["wall_s"]
        for p in warm_passes
    ])
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "federated_gcn_spark", "__init__.py")):
        print(f"perfbench: no federated_gcn_spark package under {root}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    phases: dict[str, float] = {}
    clock = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    work = os.path.join(HERE, "_work", f"{args.workload}-s{args.seed}-t{args.trace}")
    prepare_env(root, work)
    ticks0 = host.cpu_ticks()
    steal_before = host.steal_probe()
    phase("steal_probe_before")
    runner = Runner(args, work)
    app_id = None
    try:
        runner.setup()
        phase("setup")
        runner.measure()
        phase("passes")
        results = runner.verify()
        phase("checks")
        peak_rss = host.peak_rss_mb()
        app_id = runner.spark.sparkContext.applicationId
    finally:
        killed = shutdown(runner.spark)
        phase("shutdown")
    steal_after = host.steal_probe()
    phase("steal_probe_after")
    steal_run = host.steal_pct(ticks0, host.cpu_ticks())

    # operations are the layer calls of every pass; a call fails if it
    # raised or if its layer's output failed a check
    failed_layers = {c.layer for c in results if not c.ok}
    calls = [s for s in (runner.rec.spans if runner.rec else [])
             if s.name != workloads.HARNESS_SPAN]
    attempted = max(len(calls), 1)
    failed = sum(1 for s in calls if s.error or s.name in failed_layers) if calls else 1
    warm = runner.warm()
    cold = runner.passes[0] if runner.passes else {"wall_s": 0.0, "cpu_s": 0.0}
    e2e = {
        "setup_s": runner.setup_s,
        "cold_s": cold["wall_s"],
        "cold_cpu_s": cold["cpu_s"],
        "wall_s": median(warm),
        "peak_rss_mb": peak_rss,
    }
    host_rec = {
        "nproc": host.nproc(), "loadavg": list(os.getloadavg()),
        "steal_before": steal_before, "steal_after": steal_after,
        "steal_run_pct": round(steal_run, 2),
        "steal_flag": max(steal_before["steal_pct"], steal_after["steal_pct"], steal_run)
        > host.STEAL_FLAG_PCT,
    }
    if args.trace:
        metrics = {k: {"value": v, "unit": METRICS[k]}
                   for k, v in layer_metrics(runner, app_id).items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    correct = failed == 0 and all(c.ok for c in results)
    summary = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host_rec, "end_to_end": e2e,
        "phases_s": phases,
        "passes": runner.passes,
        "spans": [(s.name, s.pass_no, s.wall_s) for s in runner.rec.spans] if runner.rec else [],
        "wall_s_max": max(warm) if warm else 0.0, "wall_s_count": len(warm),
        "ops_failed_frac": failed / attempted,
        "checks": [vars(c) for c in results], "errors": runner.errors,
        "killed_at_shutdown": killed,
        "layer_extras": runner.wl.layer_extras() if runner.wl.passes else {},
        "metrics": metrics,
    }
    res_dir = os.path.join(HERE, "_work", "results")
    os.makedirs(res_dir, exist_ok=True)
    res_path = os.path.join(res_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(res_path, "w") as fh:
        json.dump(summary, fh, indent=1, default=str)

    print(f"host nproc={host_rec['nproc']} steal_before={steal_before['steal_pct']}% "
          f"steal_after={steal_after['steal_pct']}% steal_run={host_rec['steal_run_pct']}%"
          + ("  STEAL ABOVE 5%: timings suspect" if host_rec["steal_flag"] else ""))
    for c in results:
        print(f"check {c.layer} {c.name}: {'ok' if c.ok else 'FAIL ' + c.detail}")
    auc = summary["layer_extras"].get("ml.federated.federated_fit.auc")
    print(f"{args.workload} seed={args.seed} setup_s={e2e['setup_s']:.3f}s "
          f"cold_s={e2e['cold_s']:.3f}s cold_cpu_s={e2e['cold_cpu_s']:.3f}s "
          f"wall_s={e2e['wall_s']:.3f}s "
          f"(max {summary['wall_s_max']:.3f}s, n={len(warm)}) "
          f"peak_rss_mb={peak_rss:.1f}MB "
          f"ops_failed_frac={failed / attempted:.3f} ({failed}/{attempted})"
          + (f" quality_auc={auc:.4f}" if auc is not None else "")
          + f" correct={str(correct).lower()}")
    print(f"artifact {os.path.relpath(res_path, root)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
