"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its tables from the
seed, starts one pinned local Spark session, and runs the workload's
catalog queries serially in a closed loop with one client:

1. warm-up passes (untimed), which carry the JVM's JIT warm-up and
   check outputs: the first collects and checks every result, the second
   collects again the results that have no DuckDB oracle and checks that
   they repeat;
2. the timed region: whole passes through the noop sink until
   `--seconds` have gone by.

The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. A traced run reads Spark's status
store around every query, alternates traced and untraced timed passes to
state its own overhead, and writes its spans to
`perfbench/results/trace-<workload>-seed<seed>.json`.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import asdict, dataclass

import harness
import probes
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

METRIC_UNITS = {
    # end to end (--trace 0)
    "setup_s": "s", "pass_s": "s",
    # per layer (--trace 1)
    "plans.build_s": "s", "plans.build_jobs": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "shuffle.read_mb": "MB", "shuffle.write_mb": "MB",
    "sources.input_mb": "MB", "sources.input_rows": "count",
    "pyworker.cpu_s": "s", "driver.cpu_s": "s", "jvm.cpu_s": "s",
}

_MB = 1024.0 * 1024.0


@dataclass
class QueryRun:
    """One execution of one catalog query."""
    name: str
    start_s: float          # since the first pass began
    build_s: float = 0.0    # query function call until it returns its DataFrame
    exec_s: float = 0.0     # collect or noop write
    cpu: probes.Cpu | None = None
    build_counters: probes.Counters | None = None
    exec_counters: probes.Counters | None = None
    error: str | None = None

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class PassRun:
    number: int
    kind: str               # "warmup" or "timed"
    traced: bool
    queries: list[QueryRun]

    @property
    def ok(self) -> list[QueryRun]:
        return [q for q in self.queries if q.error is None]

    @property
    def wall_s(self) -> float:
        """Sum of the pass's query latencies; the cache clearing and GC
        between queries are outside it."""
        return sum(q.latency_s for q in self.ok)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Runner:
    """Runs queries against one session and records what each one did."""

    def __init__(self, spark, queries, data_dir, checker, tally, store, jvm_pid):
        self.spark = spark
        self.queries = queries
        self.data_dir = data_dir
        self.checker = checker
        self.tally = tally
        self.store = store
        self.jvm_pid = jvm_pid
        self.origin = time.perf_counter()

    def run_query(self, name: str, collect: bool, traced: bool, gc: bool) -> QueryRun:
        run = QueryRun(name, time.perf_counter() - self.origin)
        cpu0 = probes.read_cpu(self.jvm_pid)
        mark0 = self.store.mark() if traced else None
        result = None
        try:
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, self.data_dir)
            run.build_s = time.perf_counter() - t0
            mark1 = self.store.mark() if traced else None
            t1 = time.perf_counter()
            if collect:
                result = df.toPandas()
            else:
                df.write.mode("overwrite").format("noop").save()
            run.exec_s = time.perf_counter() - t1
        except Exception as ex:  # a failing query is counted, and the run goes on
            run.error = f"{name}: {type(ex).__name__}: {str(ex)[:300]}"
            traceback.print_exc(file=sys.stderr)
        run.cpu = probes.read_cpu(self.jvm_pid) - cpu0
        if traced and run.error is None:
            mark2 = self.store.mark()
            run.build_counters = self.store.counters(mark0, mark1)
            run.exec_counters = self.store.counters(mark1, mark2)
        # outside the timed region, as bench.py does: drop cached
        # intermediates and collect the JVM's garbage between queries
        self.spark.catalog.clearCache()
        if gc:
            self.spark.sparkContext._jvm.System.gc()
        if run.error is None and collect:
            why = self.checker.check(name, result)
            if why is not None:
                run.error = f"{name}: wrong output: {why}"
        if run.error is None:
            self.tally.ok()
        else:
            self.tally.fail(run.error)
        return run

    def run_pass(self, number: int, kind: str, order: list[str], traced: bool,
                 collect=lambda name: False) -> PassRun:
        """A timed pass collects nothing and runs a JVM GC between queries;
        a warm-up pass collects what `collect` selects and GCs only at its end."""
        timed = kind == "timed"
        return PassRun(number, kind, traced, [
            self.run_query(q, collect(q), traced, gc=timed or i == len(order) - 1)
            for i, q in enumerate(order)])


def end_to_end(timed: list[PassRun], setup_s: float):
    metrics = {"setup_s": setup_s,
               "pass_s": harness.median([p.wall_s for p in timed])}
    # Measured and found not to repeat within a tenth from run to run, so
    # printed as diagnostics: CPU per pass, and the latency median and tail,
    # which pooled over a handful of query types are each one query's latency.
    latencies = [q.latency_s for p in timed for q in p.ok]
    cpu = harness.median([sum(q.cpu.total for q in p.ok) for p in timed])
    line = (f"diagnostics: cpu per pass {cpu:.2f} s; query latency p50 "
            f"{harness.median(latencies):.4f} s over {len(latencies)} timed executions")
    if len(latencies) > harness.TAIL_MIN_BEYOND:
        tail = harness.tail_percentile(latencies)
        line += f", tail p{tail.pct} {tail.value:.4f} s with {tail.beyond} beyond it"
    return metrics, [line]


def pass_layers(p: PassRun) -> dict[str, float]:
    """Per-layer totals of one traced pass."""
    total, build = probes.Counters(), probes.Counters()
    for q in p.ok:
        build.add(q.build_counters)
        total.add(q.build_counters)
        total.add(q.exec_counters)
    return {
        "plans.build_s": sum(q.build_s for q in p.ok),
        "plans.build_jobs": build.jobs,
        "spark.jobs": total.jobs,
        "spark.stages": total.stages,
        "spark.tasks": total.tasks,
        "exec.run_s": total.run_ms / 1e3,
        "exec.cpu_s": total.cpu_ns / 1e9,
        "exec.gc_s": total.gc_ms / 1e3,
        "shuffle.read_mb": total.shuffle_read_bytes / _MB,
        "shuffle.write_mb": total.shuffle_write_bytes / _MB,
        "sources.input_mb": total.input_bytes / _MB,
        "sources.input_rows": total.input_rows,
        "pyworker.cpu_s": sum(q.cpu.pyworker for q in p.ok),
        "driver.cpu_s": sum(q.cpu.driver for q in p.ok),
        "jvm.cpu_s": sum(q.cpu.jvm for q in p.ok),
    }


def per_layer(timed: list[PassRun]):
    traced = [p for p in timed if p.traced]
    plain = [p for p in timed if not p.traced]
    per_pass = [pass_layers(p) for p in traced]
    metrics = {k: harness.median([d[k] for d in per_pass]) for k in per_pass[0]}
    traced_s = harness.median([p.wall_s for p in traced])
    plain_s = harness.median([p.wall_s for p in plain])
    overhead = {"traced_pass_s": traced_s, "untraced_pass_s": plain_s,
                "overhead_s": traced_s - plain_s}
    notes = [f"tracing overhead: traced pass_s {traced_s:.3f} s - untraced "
             f"pass_s {plain_s:.3f} s = {traced_s - plain_s:+.3f} s "
             f"({len(traced)} traced, {len(plain)} untraced timed passes)"]
    return metrics, overhead, notes


def spans(workload: str, passes: list[PassRun]) -> dict:
    """workload -> pass -> query -> {plans.build, execute}, with the status
    store counters on each query span."""
    def query_span(q: QueryRun) -> dict:
        span = {"name": q.name, "start_s": q.start_s, "end_s": q.start_s + q.latency_s,
                "error": q.error, "cpu": asdict(q.cpu) if q.cpu else None,
                "children": [
                    {"name": "plans.build", "start_s": q.start_s,
                     "end_s": q.start_s + q.build_s,
                     "counters": asdict(q.build_counters) if q.build_counters else None},
                    {"name": "execute", "start_s": q.start_s + q.build_s,
                     "end_s": q.start_s + q.latency_s,
                     "counters": asdict(q.exec_counters) if q.exec_counters else None},
                ]}
        if q.build_counters and q.exec_counters:
            c = probes.Counters()
            c.add(q.build_counters)
            c.add(q.exec_counters)
            span["counters"] = asdict(c)
        return span

    return {"name": workload, "children": [
        {"name": f"pass{p.number}", "kind": p.kind, "traced": p.traced,
         "wall_s": p.wall_s, "children": [query_span(q) for q in p.queries]}
        for p in passes]}


def measure(args: argparse.Namespace, work: str) -> int:
    os.makedirs(work, exist_ok=True)
    n = workloads.cores()
    # everything below starts processes that inherit this environment
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_DRIVER_MEMORY": workloads.DRIVER_MEMORY,
        "PYSPARK_PYTHON": sys.executable,
        # every JVM the launcher starts: temp files in the work dir, and no
        # hsperfdata file, which HotSpot writes to /tmp whatever the tmpdir
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')}"])),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    for d in ("tmp", "spark-local", "jvm-tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    sys.path.insert(0, ROOT)

    import datagen
    from checks import OutputChecker

    sentinel_before = probes.spin_sentinel()
    data_dir = os.path.join(work, "data")
    datagen.write_tables(data_dir, args.seed, workloads.SCALE_FACTOR)

    from dask_ml_spark import get_spark
    from dask_ml_spark.plans.queries import build_catalog
    from pyspark import SparkContext

    spark = get_spark(app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
                      extra_conf=workloads.session_conf(work))
    checker = None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        queries, oracles = build_catalog()
        names = workloads.WORKLOADS[args.workload]
        checker = OutputChecker(ROOT, data_dir, datagen.TABLES, oracles)
        tally = harness.Tally()
        runner = Runner(spark, queries, data_dir, checker, tally,
                        probes.StatusStore(spark), jvm_pid)
        rng = random.Random(args.seed)

        def order() -> list[str]:
            o = list(names)
            rng.shuffle(o)
            return o

        passes = [runner.run_pass(i, "warmup", order(), bool(args.trace),
                                  collect=lambda q, i=i: i == 0 or q not in oracles)
                  for i in range(workloads.WARMUP_PASSES)]
        setup_s = probes.seconds_since_process_start()
        region_start = time.perf_counter()
        timed: list[PassRun] = []
        # a traced run alternates traced and untraced passes, so it needs two
        while (time.perf_counter() - region_start < args.seconds
               or (args.trace and len(timed) < 2)):
            traced = bool(args.trace) and len(timed) % 2 == 0
            timed.append(runner.run_pass(len(passes), "timed", order(), traced))
            passes.append(timed[-1])
        region_s = time.perf_counter() - region_start
    finally:
        if checker is not None:
            checker.close()
        spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
    sentinel_after = probes.spin_sentinel()

    curve = [{"pass": p.number, "kind": p.kind, "traced": p.traced,
              "wall_s": round(p.wall_s, 4),
              "failed": len(p.queries) - len(p.ok)} for p in passes]
    header = [
        f"workload={args.workload} seed={args.seed} trace={args.trace} "
        f"local[{n}] shuffle_partitions={n} driver_memory={workloads.DRIVER_MEMORY} "
        f"sf={workloads.SCALE_FACTOR} queries={len(names)} "
        f"warmup_passes={workloads.WARMUP_PASSES}",
        f"timed region {region_s:.2f} s: {len(timed)} passes, "
        f"{sum(len(p.ok) for p in timed)} query executions",
        "pass curve (s): " + " ".join(
            f"{c['kind'][0]}{c['pass']}{'*' if c['traced'] else ''}={c['wall_s']:.2f}"
            for c in curve),
        f"host-speed sentinel (diagnostic only): {sentinel_before:.4f} s before, "
        f"{sentinel_after:.4f} s after",
    ]
    if args.trace:
        metrics, overhead, notes = per_layer(timed)
        jobs = {}
        for p in passes:
            for q in p.ok:
                if q.build_counters:
                    jobs.setdefault(q.name, []).append(
                        q.build_counters.jobs + q.exec_counters.jobs)
        record = {"workload": args.workload, "seed": args.seed, "curve": curve,
                  "overhead": overhead, "per_query_jobs": jobs,
                  "spans": spans(args.workload, passes)}
        notes.append("per-query spark.jobs by pass: " + ", ".join(
            f"{k}={'/'.join(map(str, v))}" for k, v in sorted(jobs.items())))
    else:
        metrics, notes = end_to_end(timed, setup_s)
        record = {"workload": args.workload, "seed": args.seed, "curve": curve,
                  "latencies": {q.name: [] for q in timed[0].queries}}
        for p in timed:
            for q in p.ok:
                record["latencies"][q.name].append(round(q.latency_s, 4))
    record.update(settings=header[0], sentinel_s=[sentinel_before, sentinel_after],
                  failures=tally.reasons, metrics=metrics)
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    kind = "trace" if args.trace else "run"
    with open(os.path.join(out_dir, f"{kind}-{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump(record, f, indent=1)

    for line in header + notes + [f"failure: {r}" for r in tally.reasons]:
        print(line)
    for k, v in metrics.items():
        print(f"{k} = {v:.4f} {METRIC_UNITS[k]}")
    print(harness.result_line(tally, {k: (float(v), METRIC_UNITS[k])
                                      for k, v in metrics.items()}))
    return 0


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "dask_ml_spark"))
            and os.path.isfile(os.path.join(ROOT, "scripts", "check_oracle.py"))):
        print(f"perfbench: {ROOT} is not a checkout of the repository "
              "(no dask_ml_spark/ or scripts/check_oracle.py)", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
