"""Seeded closed-loop benchmark of the geoio_jl_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload spatial_joins --seed 1 \
        --seconds 10 --trace 0

One driver process, one closed-loop client: each operation starts when
the previous one returns.  The run sets up five times (session start,
input generation, materialisation) and reports the median, runs an
untimed pass that checks every output and, for the query-leaf mixes, an
untimed warm-up pass, then times at least two whole passes, and more
until ``--seconds`` have gone.  The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  ``--workload all`` runs every workload in turn (untraced,
then traced) and prints each workload's named metrics and the tracing
overhead.  Per-run records (result.json, spans.json, the event log) go
to perfbench/out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
SETUPS = 5
MIN_PASSES = 2     # a median needs more than one timed pass
DRIVER_MEMORY = "2g"   # fits the 15 GB host beside Python workers


class Context:
    """What an operation needs: the session, the data directory, the
    seeded rng for op order, and the tracer."""

    def __init__(self, seed: int, cores: int, tracer):
        from workloads import seeded_rng
        self.seed, self.cores, self.tracer = seed, cores, tracer
        self.rng = seeded_rng(seed)
        self.spark = None
        self.data = ""
        self.attempted = self.failed = 0

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)


def _isolate(work: str) -> str:
    """Point every scratch location (Python and JVM temp dirs, Spark
    local dirs) inside the checkout, and let Python workers import the
    engine and the benchmark from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    path = [ROOT, HERE] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    import tempfile
    tempfile.tempdir = None
    return tmp


def _start_session(wl, ctx, work: str, tmp: str, event_dir: str | None):
    from geoio_jl_spark import shipping
    from geoio_jl_spark.session import get_spark
    from probes import event_log_conf
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.task.cpus": str(wl.task_cpus),
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            "-Dio.netty.tryReflectionSetAccessible=true "
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_dir:
        conf.update(event_log_conf(event_dir))
    spark = get_spark(f"perfbench-{wl.name}", cores=ctx.cores,
                      driver_memory=DRIVER_MEMORY, extra_conf=conf)
    # workers import the package from PYTHONPATH; skip shipping a zip of
    # it, which would be written outside the checkout
    setattr(spark.sparkContext, shipping._FLAG, True)
    return spark


def _stop_jvm() -> None:
    """End the Spark JVM.  ``spark.stop()`` leaves it running, and after
    this process exits it lives on for seconds; closing its stdin makes it
    exit now, and its Python workers follow it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:   # the JVM may be gone already
        pass
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()
    SparkContext._gateway = SparkContext._jvm = None


def _pct(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[
        round(q) - 1]


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 scale: str = "full", out_root: str = OUT) -> dict:
    """Set up, check, time and (if traced) profile one workload; return
    the run record."""
    from probes import EventLog, Tracer, tree_peak_rss
    from workloads import SCALES, WORKLOADS
    wl = WORKLOADS[name](SCALES[scale][name])
    run_dir = os.path.join(out_root, f"{name}-seed{seed}-trace{int(trace)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    work = os.path.join(run_dir, "work")
    tmp = _isolate(work)
    tracer = Tracer(trace)
    cores = len(os.sched_getaffinity(0))
    ctx = Context(seed, cores, tracer)
    pid = os.getpid()
    by_label: dict[str, list[float]] = defaultdict(list)
    passes: list[float] = []
    cpus: list[float] = []
    setups: list[float] = []
    t_start = time.perf_counter()
    try:
        for k in range(SETUPS):
            ctx.data = os.path.join(work, f"data{k}")
            events = os.path.join(run_dir, f"events{k}") if trace else None
            t = time.perf_counter()
            with tracer.span("session.start"):
                ctx.spark = _start_session(wl, ctx, work, tmp, events)
            props = wl.setup(ctx)
            setups.append(time.perf_counter() - t)
            if k < SETUPS - 1:
                ctx.spark.stop()
                shutil.rmtree(ctx.data)
        phases = {"setup": time.perf_counter()}
        wl.prepare(ctx)
        phases["prepare"] = time.perf_counter()
        for _ in range(wl.warmup_passes):   # the JIT is still compiling
            _one_pass(wl, ctx, record=None)
        deadline = time.perf_counter() + seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
            wall, cpu = _one_pass(wl, ctx, record=by_label)
            passes.append(wall)
            cpus.append(cpu)
        peak_rss = tree_peak_rss(pid)
        phases["timed"] = time.perf_counter()
        if not wl.finish(ctx):
            ctx.failed = ctx.attempted
        if trace:
            wl.ladder(ctx)
        phases["finish"] = time.perf_counter()
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
    lat = [v for vs in by_label.values() for v in vs]
    res = {
        "workload": name, "seed": seed, "trace": trace, "scale": scale,
        "input": props,
        "threads": {"master": f"local[{cores}]",
                    "spark.task.cpus": wl.task_cpus,
                    "concurrent_tasks": cores // wl.task_cpus,
                    "driver_memory": DRIVER_MEMORY},
        "setup_runs_s": setups, "setup_s": statistics.median(setups),
        "passes_s": passes, "pass_s": statistics.median(passes),
        "op_gmean_s": statistics.geometric_mean(
            statistics.median(v) for v in by_label.values()),
        "op_p50_s": statistics.median(lat), "op_p90_s": _pct(lat, 90),
        "op_samples": len(lat),
        "by_label": {k: statistics.median(v) for k, v in by_label.items()},
        "cpu_s_per_pass": statistics.median(cpus),
        "peak_rss_mb": peak_rss / 2 ** 20,
        "attempted": ctx.attempted, "failed": ctx.failed,
        "checks": wl.verdict,
        "phase_end_s": {k: v - t_start for k, v in phases.items()},
    }
    if len(lat) > 10:
        q = int(100 * (1 - 10 / len(lat)))
        res["op_tail"] = {"percentile": q, "value_s": _pct(lat, q),
                          "samples": len(lat)}
    res["docs_per_s"] = wl.docs_per_s(res)
    res["named"] = {**wl.named(res), "setup_s": res["setup_s"],
                    "peak_rss_mb": res["peak_rss_mb"],
                    "failed_ops_ratio": ctx.failed / ctx.attempted}
    if trace:
        ev = EventLog(os.path.join(run_dir, f"events{SETUPS - 1}"))
        res["layers"] = _layers(wl, ctx, ev, res)
        tracer.dump(os.path.join(run_dir, "spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(res, f, indent=1)
    return res


def _one_pass(wl, ctx, record) -> tuple[float, float]:
    """Run one pass of operations, closed loop; count every operation in
    ``ctx.attempted``/``ctx.failed`` and, when ``record`` is given, append
    each latency under its label.  Returns the wall time and the process
    tree's CPU seconds of the operations (input landing in ``pass_ops``
    and maintenance in ``after_pass`` are outside both)."""
    from probes import tree_cpu_s
    tr = ctx.tracer
    tr.pass_id = 0 if record is None else tr.pass_id + 1   # 0: untimed
    ops = wl.pass_ops(ctx)
    pid = os.getpid()
    cpu0 = tree_cpu_s(pid)
    p0 = time.perf_counter()
    for label, op in ops:
        ctx.group(f"timed{tr.pass_id}:{label}" if tr.pass_id
                  else f"warmup:{label}")
        t = time.perf_counter()
        with ctx.tracer.span("op", label=label):
            try:
                ok = op()
            except Exception:   # an operation failure is a result
                traceback.print_exc(file=sys.stderr)
                ok = False
        if record is not None:
            record[label].append(time.perf_counter() - t)
        ctx.attempted += 1
        ctx.failed += not ok
    wall = time.perf_counter() - p0
    cpu = tree_cpu_s(pid) - cpu0
    wl.after_pass(ctx)
    return wall, cpu


SPARK_TOTALS = ("jobs", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
                "scan_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
                "spill_bytes", "result_bytes")
# per-layer metrics every workload reports (0 where it runs no such layer)
COMMON_LAYERS = frozenset(
    ["session.start_s", "datagen.generate_s", "queries.build_s",
     "trace.pass_s", "process.peak_rss_mb", "spark.driver_collect_s"]
    + [f"spark.{k}" for k in SPARK_TOTALS])


def _layers(wl, ctx, ev, res: dict) -> dict:
    """Per-layer numbers common to every workload, plus the workload's;
    exactly the names ``COMMON_LAYERS | wl.layer_names()``."""
    tr = ctx.tracer
    timed = ev.groups_matching(lambda g: g.startswith("timed"))
    n = len(res["passes_s"])
    builds: dict[int, float] = defaultdict(float)
    for s in tr.spans:
        if s["name"] == "queries.build" and s["pass"]:
            builds[s["pass"]] += s["end"] - s["start"]
    out = {
        "session.start_s": tr.durations("session.start")[0],
        "datagen.generate_s": statistics.median(
            tr.durations("datagen.generate")),
        "queries.build_s": statistics.median(builds.values()) if builds
        else 0.0,
        "trace.pass_s": res["pass_s"],
        "process.peak_rss_mb": res["peak_rss_mb"],
        "spark.driver_collect_s": ev.outside_jobs(
            {f"timed{s['pass']}:{s['attrs']['label']}": s["end"] - s["start"]
             for s in tr.spans if s["name"] == "op" and s["pass"]}) / n,
    }
    for key in SPARK_TOTALS:
        out[f"spark.{key}"] = ev.total(timed, key) / n
    out.update(wl.layers(ctx, ev, res))
    want = COMMON_LAYERS | wl.layer_names()
    if set(out) != want:
        raise RuntimeError(f"{wl.name} per-layer metrics: missing "
                           f"{sorted(want - set(out))}, undeclared "
                           f"{sorted(set(out) - want)}")
    return out


def _result_line(res: dict, spec: dict, trace: bool) -> dict:
    """The result line: BENCHMARK.json's end-to-end metrics, or with
    ``trace`` its per-layer ones.  A per-layer metric of a layer this
    workload does not run reads 0; a name no workload produces raises."""
    from workloads import WORKLOADS
    produced = COMMON_LAYERS.union(
        *(w.layer_names() for w in WORKLOADS.values()))
    metrics = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        name = m["name"]
        if not trace:
            value = res[name]
        elif name in produced:
            value = res["layers"].get(name, 0.0)
        else:
            raise KeyError(f"no workload produces per-layer metric {name!r}")
        metrics[name] = {"value": float(value), "unit": m["unit"]}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


NAMED_UNITS = {
    "spatial_pass_s": "s",
    "spatial_query_p50_s": "s", "spatial_query_p90_s": "s",
    "dedup_pass_s": "s", "dedup_query_p50_s": "s", "dedup_query_p90_s": "s",
    "ingest_docs_per_s": "pages/s", "resolve_p50_s": "s",
    "store_bytes_per_user_byte": "ratio", "setup_s": "s",
    "peak_rss_mb": "MB", "failed_ops_ratio": "ratio",
}


def _report(res: dict) -> None:
    th = res["threads"]
    print(f"# {res['workload']} seed={res['seed']} trace={int(res['trace'])}"
          f" master={th['master']} spark.task.cpus={th['spark.task.cpus']}"
          f" driver_memory={th['driver_memory']}")
    print("# input " + json.dumps(res["input"], sort_keys=True))
    print("# phases ended at (s): " + json.dumps(
        {k: round(v, 2) for k, v in res["phase_end_s"].items()}))
    print(f"# {len(res['passes_s'])} passes, {res['op_samples']} operations;"
          f" op p50 {res['op_p50_s']:.4f} s, p90 {res['op_p90_s']:.4f} s")
    if "op_tail" in res:
        t = res["op_tail"]
        print(f"# op p{t['percentile']} {t['value_s']:.4f} s (highest "
              f"percentile with >= 10 samples beyond, n={t['samples']})")
    for k, v in res["named"].items():
        print(f"# {k} {v:.6g} {NAMED_UNITS[k]}")
    bad = [k for k, ok in res["checks"].items() if not ok]
    if bad:
        print(f"# WRONG OUTPUT: {bad}")


def _run_all(args) -> int:
    """Every workload untraced then traced, each in its own process."""
    named, overhead = {}, {}
    attempted = failed = 0
    from workloads import WORKLOADS
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload",
                   name, "--seed", str(args.seed), "--seconds",
                   str(args.seconds), "--trace", str(trace)]
            if subprocess.run(cmd, stdout=subprocess.DEVNULL).returncode:
                print(f"perfbench: {name} trace={trace} failed",
                      file=sys.stderr)
                return 1
        recs = []
        for trace in (0, 1):
            with open(os.path.join(OUT, f"{name}-seed{args.seed}-trace"
                                   f"{trace}", "result.json")) as f:
                recs.append(json.load(f))
        plain, traced = recs
        _report(plain)
        attempted += plain["attempted"]
        failed += plain["failed"]
        for k, v in plain["named"].items():
            key = f"{name}.{k}" if k.startswith(
                ("setup", "peak", "failed")) else k
            named[key] = {"value": v, "unit": NAMED_UNITS[k]}
        overhead[name] = traced["pass_s"] - plain["pass_s"]
        print(f"# {name} tracing overhead: pass {traced['pass_s']:.4f} s "
              f"traced vs {plain['pass_s']:.4f} s untraced "
              f"({overhead[name]:+.4f} s)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": named}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "geoio_jl_spark")):
        print(f"perfbench: no geoio_jl_spark package in {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from probes import adopt_orphans, end_tree
    adopt_orphans()
    try:
        return _main(args)
    finally:   # on every way out: no process of this run outlives it
        _stop_jvm()
        killed = end_tree(os.getpid())
        if killed:
            print(f"perfbench: killed {len(killed)} process(es) that did "
                  "not exit", file=sys.stderr)


def _main(args) -> int:
    if args.workload == "all":
        return _run_all(args)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    res = run_workload(args.workload, args.seed, args.seconds,
                       bool(args.trace))
    _report(res)
    print(json.dumps(_result_line(res, spec, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
