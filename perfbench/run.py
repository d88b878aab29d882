"""Benchmark of the engine: one workload, one seed, one line of metrics.

    python3 perfbench/run.py --workload geo_pipeline --seed 1 --seconds 12 --trace 0

Run from the repository root. The run starts a Spark session on
``local[<cores>]``, stages the workload's inputs from the seed, warms up,
then runs passes back to back (a closed loop with one client)
until ``--seconds`` have passed, checking every answer. The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Earlier lines record the run's settings, its
sample counts and, when traced, its spans. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
import uuid

from spans import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "plateau_gis_converter_spark")
# A/B switches whose experiments are settled: both sides of a comparison
# must measure the defaults, so a run refuses to start with one set.
AB_KNOBS = ("SPARK_GRAFT_T_RR", "SPARK_GRAFT_SCC_TRIM_LAYERS")
AB_PREFIXES = ("SPARK_GRAFT_AQE",)
# Spark's driver heap is capped so a run fits beside other work on a 15 GB
# machine; session.py would otherwise ask for 24g. A run peaks under 3 GB.
DRIVER_MEMORY = "4g"
STAGE_REPS = 3


class Context:
    """What a workload's operations need: the session, the run's temp dir,
    the seed and the tracer of the pass being run."""

    def __init__(self, spark, tmp: str, seed: int, run_id: str, tracer):
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.run_id = run_id
        self.tracer = tracer
        self.timing = False
        self.stats: dict[str, list] = {}

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.tmp, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


def _peak_rss_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _workloads():
    """Workload classes by name. A workload has ``stage(ctx)`` (inputs and
    oracle answers from the seed), ``ops(ctx, index)`` (the pass's
    ``(name, fn(ctx, span) -> ok)`` operations), ``warm_groups(ctx, index)``
    (operation lists the warm-up runs on parallel threads),
    ``after_pass(ctx, index)``, ``pages_per_s(pass)`` and ``layers(ctx)``
    (its per-layer metrics, after the traced passes)."""
    from geo import GeoPipeline
    from registry import GraphFixpoint

    return {w.name: w for w in (GeoPipeline, GraphFixpoint)}


def run_pass(wl, ctx, index: int) -> dict:
    """One pass of the workload's operations, each in its own span."""
    tracer = ctx.tracer
    ops = []
    harvest0 = tracer.harvest_s
    t0 = time.perf_counter()
    with tracer.span("pass") as pass_span:
        for name, fn in wl.ops(ctx, index):
            t = time.perf_counter()
            with tracer.span(name) as rec:
                try:
                    ok = bool(fn(ctx, rec))
                except Exception:
                    traceback.print_exc()
                    ok = False
            ops.append({"op": name, "s": time.perf_counter() - t, "ok": ok})
            if not ok:
                print(f"perfbench: {name} failed in pass {index}",
                      file=sys.stderr)
    wall = time.perf_counter() - t0
    wl.after_pass(ctx, index)
    return {"wall": wall, "ops": ops, "span": pass_span,
            "harvest": tracer.harvest_s - harvest0}


def warm_up(wl, ctx) -> float:
    """Run the workload's operations, untimed, to compile the JVM and
    codegen paths the timed passes use: once with independent operations
    on threads of their own (the warm state is shared by the whole JVM, and
    the cold pass is the largest part of set-up), then once as a pass. The
    first pass after the threaded round is the most erratic of a run: on a
    4-core VM it took 12-14.5 s of geo_pipeline where the next took
    11.1-12.0 s. Returns the wall time."""
    from concurrent.futures import ThreadPoolExecutor

    def run(group):
        # a failure here is reported; the timed passes count it
        for name, fn in group:
            try:
                ok = fn(ctx, {})
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:
                print(f"perfbench: {name} failed in warm-up", file=sys.stderr)

    t0 = time.perf_counter()
    groups = wl.warm_groups(ctx, 0)
    with ThreadPoolExecutor(len(groups)) as pool:
        for future in [pool.submit(run, g) for g in groups]:
            future.result()
    wl.after_pass(ctx, 0)
    run(wl.ops(ctx, 0))
    wl.after_pass(ctx, 0)
    return time.perf_counter() - t0


def _setup_environment(tmp: str, cpus: int, trace: bool) -> None:
    """Point every scratch path of Python, the JVM and Spark into ``tmp``
    and pin the session settings the benchmark measures."""
    from spans import event_log_confs

    dirs = {d: os.path.join(tmp, d) for d in
            ("py", "jvm", "local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["py"]
    tempfile.tempdir = dirs["py"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    # the JVM that spark-submit runs to build its command line, too
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    args = ["--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={dirs['warehouse']}",
            # no hsperfdata file under /tmp: every write stays in ``tmp``
            "--driver-java-options",
            f"-Djava.io.tmpdir={dirs['jvm']} -XX:-UsePerfData"]
    if trace:
        args += event_log_confs(dirs["eventlog"])
    os.environ["PYSPARK_SUBMIT_ARGS"] = subprocess.list2cmdline(
        args + ["pyspark-shell"])


def _stop(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(args, bench: dict, tmp: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    _setup_environment(tmp, cpus, args.trace == 1)
    sys.path.insert(0, ROOT)
    from plateau_gis_converter_spark.session import get_spark
    from spans import EventLog, Tracer

    wl = _workloads()[args.workload]()
    run_id = uuid.uuid4().hex[:12]
    t0 = time.perf_counter()
    spark = get_spark(app=f"perfbench-{args.workload}",
                      master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    start_s = time.perf_counter() - t0
    try:
        plain = Tracer(spark, run_id, None)
        traced = Tracer(spark, run_id, EventLog(os.path.join(tmp, "eventlog"))
                        if args.trace else None)
        ctx = Context(spark, tmp, args.seed, run_id, plain)
        print(json.dumps({"settings": {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "cpus": cpus,
            "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
            "env": {k: v for k, v in sorted(os.environ.items())
                    if k.startswith("SPARK_") or k == "PYSPARK_SUBMIT_ARGS"},
        }}), flush=True)

        stage_times = []
        for _ in range(STAGE_REPS):
            t = time.perf_counter()
            wl.stage(ctx)
            stage_times.append(time.perf_counter() - t)
        warm_s = warm_up(wl, ctx)
        setup_s = start_s + median(stage_times) + warm_s

        ctx.timing = True
        plain_p, traced_p = [], []
        deadline = time.perf_counter() + args.seconds
        index = 1
        last = 0.0
        # traced runs alternate untraced and traced passes, at least one
        # each; no pass starts that would end more than half a pass past
        # the deadline, so a run measures about ``--seconds``
        while (index <= 1 + args.trace
               or time.perf_counter() + last / 2 < deadline):
            is_traced = args.trace == 1 and index % 2 == 0
            ctx.tracer = traced if is_traced else plain
            p = run_pass(wl, ctx, index)
            (traced_p if is_traced else plain_p).append(p)
            last = p["wall"]
            index += 1
        ctx.tracer = traced

        timed = plain_p + traced_p
        attempted = sum(len(p["ops"]) for p in timed)
        failed = sum(not o["ok"] for p in timed for o in p["ops"])
        walls = [p["wall"] for p in plain_p]
        by_op: dict[str, list[float]] = {}
        for p in plain_p:
            for o in p["ops"]:
                by_op.setdefault(o["op"], []).append(o["s"])
        print(json.dumps({"samples": {
            "passes": len(walls), "ops": sum(map(len, by_op.values())),
            "traced_passes": len(traced_p), "stage_reps": STAGE_REPS,
            "walls": walls, "op_s": by_op, "stage_s": stage_times,
            "warmup_s": warm_s, "start_s": start_s,
            "failed_ops": sorted({o["op"] for p in timed for o in p["ops"]
                                  if not o["ok"]})}}), flush=True)

        if args.trace:
            values = _layer_metrics(wl, ctx, traced_p, walls, start_s,
                                    stage_times)
            values["session.jvm_peak_rss_mb"] = _peak_rss_mb(
                spark._jvm.java.lang.ProcessHandle.current().pid())
            values["session.driver_peak_rss_mb"] = _peak_rss_mb("self")
            traced.log.close()
            print(json.dumps(traced.dump()), flush=True)
            wanted = bench["per_layer"]
        else:
            values = {
                "setup_s": setup_s,
                "wall_s": median(walls),
                "pages_per_s": median([wl.pages_per_s(p) for p in plain_p]),
                "ok_ratio": (attempted - failed) / attempted,
            }
            wanted = bench["end_to_end"]
    finally:
        _stop(spark)

    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def _layer_metrics(wl, ctx, traced_passes, plain_walls, start_s,
                   stage_times) -> dict[str, float]:
    tracer = ctx.tracer
    values: dict[str, float] = {
        "session.start_s": start_s,
        "sources.stage_s": median(stage_times),
    }
    per_pass = [tracer.totals([p["span"]]) for p in traced_passes]
    for key in per_pass[0]:
        values[f"spark.{key}"] = median([c[key] for c in per_pass])
    traced_wall = median([p["wall"] for p in traced_passes])
    values["trace.wall_s"] = traced_wall
    values["trace.overhead_s"] = traced_wall - median(plain_walls)
    values["trace.harvest_s"] = median([p["harvest"] for p in traced_passes])
    values.update(wl.layers(ctx))
    tracer.sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracer.log.poll()
    values["trace.stages_lost"] = tracer.log.stages_lost()
    values["trace.stages_total"] = sum(
        c["stages"] for c in tracer.log.groups.values())
    values["trace.spans"] = len(tracer.spans)
    return values


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    set_knobs = sorted(k for k in os.environ if k in AB_KNOBS
                       or k.startswith(AB_PREFIXES))
    if set_knobs:
        print(f"perfbench: refusing to run with A/B knobs set: {set_knobs}; "
              "unset them so the defaults are measured", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"perfbench: engine sources not found at {PACKAGE}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2

    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    try:
        result = measure(args, bench, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
