#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload explore --seed 1 --seconds 8 --trace 0

The report lines name every metric with its unit and sample count; the
last line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}`` carrying the end-to-end metrics of ``BENCHMARK.json``
(``--trace 0``) or its per-layer metrics (``--trace 1``).  ``--smoke``
runs one short pass at sf0.001 with tracing on and exits non-zero unless
every metric named in ``BENCHMARK.json`` was printed.  ``--workload all``
runs every workload of ``BENCHMARK.json`` in turn.

Set-up generates the inputs once, untimed, then starts a session
``SETUP_ROUNDS + 1`` times, each a fresh Spark context built from
``session.recommended_conf`` followed by the workload's first library
call.  The first round also launches the JVM; ``setup_s`` is the median
of the other rounds.

Inputs are generated from ``--seed`` under ``.perfbench_work/`` at the
root of the checkout; spans and event logs of traced runs stay there.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: set-up rounds after the one that launches the JVM; ``setup_s`` is their median
SETUP_ROUNDS = 3
DEFAULT_SF = 0.1


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n: int) -> int | None:
    """The highest of p99/p95/p90/p75/p50 with at least ten samples beyond it."""
    for q in (99, 95, 90, 75, 50):
        if n * (100 - q) / 100.0 >= 10:
            return q
    return None


def start_session(work: str, nproc: int, event_dir: str | None):
    from pyspark.sql import SparkSession

    from pyspark_dist_explore_spark.session import recommended_conf

    conf = recommended_conf(total_cores=nproc)
    conf.update(
        {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
    )
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    builder = SparkSession.builder.master(f"local[{nproc}]").appName("perfbench")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, conf


def stop_jvm(spark) -> None:
    """Stop the context, then the JVM gateway process, and wait for it."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except (OSError, Py4JError):  # already gone; the process wait below decides
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def git_rev() -> str:
    """The checkout's git revision, or ``unknown`` outside a git repository."""
    try:
        p = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return p.stdout.strip() or "unknown"


def metric(value: float, unit: str, n: int) -> dict:
    return {"value": value, "unit": unit, "n": n}


def end_to_end(wl, setup_times: list[float], cpu_s: float, rss_mb: float) -> dict[str, dict]:
    lat = [r.latency for r in wl.latency_records()]
    attempted = len(wl.records)
    failed = sum(1 for r in wl.records if r.error is not None)
    out = {
        "setup_s": metric(statistics.median(setup_times), "s", len(setup_times)),
        "wall_s": metric(statistics.median(wl.passes), "s", len(wl.passes)),
        "cpu_s": metric(cpu_s, "s", len(wl.passes)),
        "latency_p50_s": metric(percentile(lat, 50), "s", len(lat)),
        "peak_rss_mb": metric(rss_mb, "MB", 1),
        "failed_frac": metric(failed / attempted if attempted else 0.0, "ratio", attempted),
    }
    q = tail_percentile(len(lat))
    if q is not None and q > 50:
        out[f"latency_p{q}_s"] = metric(percentile(lat, q), "s", len(lat))
    ex = wl.extra
    if "index_build_s" in ex:
        out["index_build_s"] = metric(statistics.median(ex["index_build_s"]), "s", len(ex["index_build_s"]))
        out["queries_per_s"] = metric(sum(ex["queries"]) / sum(ex["serve_s"]), "1/s", sum(ex["queries"]))
    if "recall_at_10" in ex:
        out["recall_at_10"] = metric(statistics.mean(ex["recall_at_10"]), "ratio", len(ex["recall_at_10"]))
    if wl.name == "curate_10x":
        out["docs_per_s"] = metric(wl.n_docs / statistics.median(wl.passes), "1/s", len(wl.passes))
    return out


def per_layer(wl, tracer, totals) -> dict[str, dict]:
    """Per-layer metrics of the measured requests, from spans, the event
    log and the executed plans."""
    from perfbench.trace import group_metrics
    from perfbench.workloads import FAMILIES

    tagged = [s for s in tracer.spans if s.name in {"index_write", "index_load"}]
    tagged += [tracer.spans[r.span] for r in wl.records if r.span is not None]
    agg = group_metrics({f"span-{s.id}": s.dur for s in tagged}, totals)

    def span_sum(name: str) -> float:
        return sum(s.dur for s in tracer.spans if s.name == name)

    def req_sum(kinds: set[str]) -> float:
        return sum(r.latency for r in wl.records if r.kind in kinds)

    ex = wl.extra
    tasks = agg["tasks"]
    m = {
        "spark.jobs": (agg["jobs"], "count"),
        "spark.stages": (agg["stages"], "count"),
        "spark.tasks": (tasks, "count"),
        "spark.failed_tasks": (agg["failed_tasks"], "count"),
        "spark.empty_task_frac": (agg["empty_tasks"] / tasks if tasks else 0.0, "ratio"),
        "spark.job_s": (agg["job_s"], "s"),
        "spark.driver_gap_s": (agg["driver_gap_s"], "s"),
        "spark.sched_delay_s": (agg["sched_delay_s"], "s"),
        "spark.exec_cpu_s": (agg["exec_cpu_s"], "s"),
        "spark.exec_run_s": (agg["exec_run_s"], "s"),
        "spark.gc_s": (agg["gc_s"], "s"),
        "spark.input_mb": (agg["input_mb"], "MB"),
        "spark.shuffle_read_mb": (agg["shuffle_read_mb"], "MB"),
        "spark.shuffle_write_mb": (agg["shuffle_write_mb"], "MB"),
        "spark.spill_mb": (agg["spill_mb"], "MB"),
        "spark.result_mb": (agg["result_mb"], "MB"),
        "plan.scans": (agg["scans"], "count"),
        "plan.exchanges": (agg["exchanges"], "count"),
        "plan.broadcasts": (agg["broadcasts"], "count"),
        "plan.python_nodes": (agg["python_nodes"], "count"),
        "plan.codegen_stages": (agg["codegen_stages"], "count"),
        "plans.build_s": (span_sum("build"), "s"),
        "plans.collect_s": (span_sum("action"), "s"),
        "plans.result_rows": (sum(r.nrows for r in wl.records), "rows"),
        "operators.histogram.call_s": (req_sum({"hist", "ecdf", "kde"}), "s"),
        "operators.stats.call_s": (req_sum({"describe"}), "s"),
        "viz.to_pandas_s": (span_sum("to_pandas"), "s"),
        "operators.similarity.topk_s": (span_sum("topk"), "s"),
        "operators.similarity.rotate_s": (span_sum("rotate"), "s"),
        "sources.sinks.index_write_s": (sum(ex.get("index_build_s", [])), "s"),
        "sources.sinks.index_load_s": (sum(ex.get("index_load_s", [])), "s"),
        "pipeline.curate_s": (sum(ex.get("curate_s", [])), "s"),
        "sources.sinks.shard_write_s": (sum(ex.get("shard_write_s", [])), "s"),
        "sources.sinks.shard_verify_s": (sum(ex.get("shard_verify_s", [])), "s"),
        "sources.sinks.read_back_s": (sum(ex.get("read_back_s", [])), "s"),
        "sources.sinks.written_mb": (sum(ex.get("written_mb", [])), "MB"),
        "sources.sinks.write_amp": (
            sum(ex.get("written_mb", [])) / sum(ex["input_mb"]) if ex.get("input_mb") else 0.0,
            "ratio",
        ),
    }
    for fam in FAMILIES:
        m[f"slots.{fam}_s"] = (sum(r.latency for r in wl.records if r.family == fam), "s")
    return {k: metric(float(v), u, len(wl.records)) for k, (v, u) in m.items()}


def run_one(args) -> int:
    try:
        import pyspark_dist_explore_spark as pkg
    except ImportError as e:
        print(f"perfbench: the program is missing from this checkout: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != ROOT:
        print("perfbench: pyspark_dist_explore_spark is not this checkout's", file=sys.stderr)
        return 2

    from perfbench import trace
    from perfbench.workloads import WORKLOADS, Ctx

    spec = load_spec()
    names = {m["name"] for m in spec["end_to_end"]} if not args.trace else {m["name"] for m in spec["per_layer"]}
    sf = 0.001 if args.smoke else DEFAULT_SF
    nproc = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    trace_dir = os.path.join(ROOT, ".perfbench_work", "traces", f"{args.workload}-s{args.seed}-t{int(time.time())}")
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # Python, Spark and every JVM (the spark-submit launcher's too) keep
    # their temp, block and perf-data files inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    traced = bool(args.trace or args.smoke)
    rounds = 1 if args.smoke else SETUP_ROUNDS
    # each session logs to its own directory; the measured one is the last
    event_dirs = [os.path.join(trace_dir, f"eventlog{r}") if traced else None for r in range(rounds + 1)]

    setup_times: list[float] = []
    phases = {"start": time.perf_counter()}
    spark = None
    try:
        wl = WORKLOADS[args.workload](Ctx(None, None, work, args.seed, sf, args.smoke))
        wl.generate(os.path.join(work, "data"))
        phases["generate"] = time.perf_counter()
        for r in range(rounds + 1):
            if spark is not None:
                spark.stop()  # the context; the JVM stays up
            t0 = time.perf_counter()
            spark, conf = start_session(work, nproc, event_dirs[r])
            wl.ctx.spark = spark
            wl.warmup()
            if r:
                setup_times.append(time.perf_counter() - t0)
            else:
                phases["jvm_round"] = time.perf_counter()
        phases["setup"] = time.perf_counter()
        wl.ctx.tracer = trace.Tracer(spark, False)
        wl.reference()
        phases["reference"] = time.perf_counter()
        wl.ctx.tracer.enabled = traced
        pid = jvm_pid(spark)
        cpu0 = trace.tree_cpu_s(pid)
        wl.measure(args.seconds)
        phases["measure"] = time.perf_counter()
        cpu_s = (trace.tree_cpu_s(pid) - cpu0) / len(wl.passes)
        wl.check()
        phases["check"] = time.perf_counter()
        rss = (trace.vm_hwm_mb(pid), trace.vm_hwm_mb())
        if traced:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    finally:
        if spark is not None:
            stop_jvm(spark)

    phases["stop"] = time.perf_counter()
    e2e = end_to_end(wl, setup_times, cpu_s, sum(rss))
    layers = {}
    if traced:
        jobs, totals = trace.parse_event_log(trace.read_event_logs(event_dirs[-1]))
        wl.ctx.tracer.attach_jobs(jobs)
        layers = per_layer(wl, wl.ctx.tracer, totals)
        wl.ctx.tracer.dump(os.path.join(trace_dir, "spans.json"))
    shutil.rmtree(work, ignore_errors=True)

    failed = [r for r in wl.records if r.error is not None]
    print(f"workload {args.workload}  seed {args.seed}  sf {sf}  nproc {nproc}  rev {git_rev()}  "
          f"setup rounds {len(setup_times)}  passes {len(wl.passes)}  requests {len(wl.records)}")
    print(f"rss_mb jvm {rss[0]:.1f}  python {rss[1]:.1f}")
    print("conf " + json.dumps(conf, sort_keys=True))
    marks = list(phases.items())
    print("phases_s " + json.dumps({k: round(t - marks[i - 1][1], 2) for i, (k, t) in enumerate(marks) if i}))
    for r in wl.records:
        print(f"request {r.kind} {r.latency:.4f} s {r.name}" + (f" FAILED: {r.error}" if r.error else ""))
    for k, v in {**e2e, **layers}.items():
        print(f"metric {k} = {v['value']:.6g} {v['unit']} (n={v['n']})")
    for k, v in sorted(wl.extra.items()):
        print(f"sample {k}: median {statistics.median(v):.6g} (n={len(v)})")
    if traced:
        self_t = wl.ctx.tracer.self_times()
        print("self_times_s " + json.dumps({k: round(v, 4) for k, v in sorted(self_t.items())}))
        wall = sum(wl.passes)
        print(f"time shares of the measured passes ({wall:.2f} s): spark jobs "
              f"{layers['spark.job_s']['value'] / wall:.2f}, driver gap "
              f"{layers['spark.driver_gap_s']['value'] / wall:.2f}, executor run "
              f"{layers['spark.exec_run_s']['value'] / (wall * nproc):.2f} of {nproc} cores")
        if "curate_1x_first_s" in wl.extra:
            first = wl.extra["curate_1x_first_s"][0]
            print(f"scaling: 10x pass {wl.passes[0]:.2f} s / first (cold) 1x curation {first:.2f} s "
                  f"= {wl.passes[0] / first:.2f}")
        last = _last_untraced(args)
        if last is not None:
            print(f"tracing overhead: wall_s traced {e2e['wall_s']['value']:.4f} s - untraced "
                  f"{last:.4f} s = {e2e['wall_s']['value'] - last:+.4f} s")
        else:
            print("tracing overhead: no untraced run of this workload and seed recorded yet")
        print(f"spans: {os.path.join(trace_dir, 'spans.json')}")
    else:
        _record_untraced(args, e2e["wall_s"]["value"])
    gate_ok = not failed
    print(f"output gate: {'PASS' if gate_ok else 'FAIL'} ({len(failed)} of {len(wl.records)} requests failed)")

    chosen = layers if args.trace else e2e
    if args.smoke:
        printed = set(e2e) | set(layers)
        missing = sorted(({m["name"] for m in spec["end_to_end"]} | {m["name"] for m in spec["per_layer"]}) - printed)
        if missing:
            print(f"smoke: metrics not printed: {missing}", file=sys.stderr)
            return 1
    missing = names - set(chosen)
    if missing:
        print(f"perfbench: metrics not produced: {sorted(missing)}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": gate_ok,
        "attempted": len(wl.records),
        "failed": len(failed),
        "metrics": {k: {"value": chosen[k]["value"], "unit": chosen[k]["unit"]} for k in sorted(names)},
    }))
    return 0


def _untraced_path() -> str:
    return os.path.join(ROOT, ".perfbench_work", "untraced_wall.json")


def _last_untraced(args) -> float | None:
    try:
        with open(_untraced_path()) as fh:
            return json.load(fh).get(f"{args.workload}:{args.seed}")
    except (OSError, ValueError):
        return None


def _record_untraced(args, wall: float) -> None:
    path = _untraced_path()
    try:
        with open(path) as fh:
            d = json.load(fh)
    except (OSError, ValueError):
        d = {}
    d[f"{args.workload}:{args.seed}"] = wall
    with open(path, "w") as fh:
        json.dump(d, fh)


def run_all(args) -> int:
    """Every workload of BENCHMARK.json, each in its own process."""
    rc = 0
    results = {}
    for w in load_spec()["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.smoke:
            cmd.append("--smoke")
        p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        sys.stdout.write(p.stdout)
        lines = p.stdout.strip().splitlines()
        results[w["name"]] = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        rc = rc or p.returncode
    print(json.dumps(results))
    return rc


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="one short pass at sf0.001, all metrics")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        print("perfbench: BENCHMARK.json not found at the checkout root", file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
