"""Benchmark entry point: one workload, one SparkSession, one process.

    python3 perfbench/run.py --workload insurance_etl --seed 1 --seconds 10 --trace 0

Run discipline (README.md in this directory has the reasons):

- fixed ``local[4]`` master with 4 shuffle partitions, a 2 GB driver
  heap, console progress off, Spark temp files inside the checkout;
- the checkout root on ``PYTHONPATH`` so Python UDF workers can import
  the package;
- set-up = session start, input generation and one checked cold pass;
  only later passes are timed. ``setup_s`` counts the session start and
  the program's calls in the cold pass, not the benchmark's own input
  generation and checks;
- between ops, outside the timed region, persisted RDDs are counted and
  released, and pipeline outputs are checked, then deleted;
- a fixed number of timed passes, derived from ``--seconds`` and the
  workload's nominal pass time, so every run does the same work.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the timed passes alternate untraced and traced:
traced passes wrap the public functions of the program's layers in
spans and read Spark's job and stage counters, and the last line
carries the per-layer metrics, including the tracing overhead (traced
minus untraced pass median).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "car_insurance_data_pipeline_spark_spark"
CORES = 4
DRIVER_MEMORY = "2g"
MIN_TIMED_PASSES = 3

sys.path.insert(0, HERE)

import measure  # noqa: E402
import workloads  # noqa: E402

STOLEN0 = measure.stolen_s()

# (module, function, span name) traced in ``--trace 1`` passes. Every
# module attribute bound to the function is patched, so callers that
# import it at module level (plans/textops.py) and callers that import
# it at call time both reach the wrapper.
INSURANCE_BUILDERS = [
    "clean_contracts",
    "clean_vehicles",
    "clean_claims",
    "clean_telematics",
    "build_dim_customer",
    "build_dim_policy",
    "build_dim_date",
    "build_fact_policy_snapshot",
    "build_fact_claims",
    "build_driver_risk",
    "monthly_premium_trend",
    "segment_analysis",
]
OPERATORS = [
    "operators.dedup.jaccard_pairs",
    "operators.dedup.near_dup_pairs",
    "operators.graph.pagerank",
    "operators.similarity.embedding_dup_pairs",
    "operators.similarity.cosine_topk",
    "operators.tokenizer.bpe_tokenize",
]


def _write_span(df, path, *args, **kwargs) -> str:
    return "sources.write_parquet/" + os.path.basename(path.rstrip("/")).removesuffix(".parquet")


TRACE_TARGETS = (
    [
        ("sources.readers", "read_csv", "sources.read_csv"),
        ("sources.writers", "write_parquet", _write_span),
        ("plans.insurance", "run_pipeline", "plans.insurance.run_pipeline"),
        ("plans.insurance", "ingest_raw", "plans.insurance.run_pipeline"),
    ]
    + [("plans.insurance", b, "plans.insurance.build") for b in INSURANCE_BUILDERS]
    + [(o.rsplit(".", 1)[0], o.rsplit(".", 1)[1], o) for o in OPERATORS]
)


class Untraced:
    def phase(self, name: str, group: str):
        return contextlib.nullcontext()


class Traced:
    """Spans, Spark job groups and the ``table()`` memo counter of
    traced passes."""

    def __init__(self, spark, tracer: measure.Tracer) -> None:
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.patches: list[tuple[object, str, object]] = []
        self.table_calls = 0
        self.table_hits = 0
        self._seen: dict[tuple, int] = {}

    @contextlib.contextmanager
    def phase(self, name: str, group: str):
        op = self.tracer.op
        self.sc.setJobGroup(f"{group}{op}", name)
        try:
            with self.tracer.span(name):
                yield
        finally:
            self.sc.setJobGroup(f"a{op}", "op")

    def _counting_table(self, table):
        def counted(spark, sf_dir, name):
            df = table(spark, sf_dir, name)
            key = (sf_dir, name)
            self.table_calls += 1
            self.table_hits += self._seen.get(key) == id(df)
            self._seen[key] = id(df)
            return df

        return counted

    def _patch(self, original, wrapper) -> None:
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith(PACKAGE):
                continue
            for attr in [a for a, v in vars(mod).items() if v is original]:
                self.patches.append((mod, attr, original))
                setattr(mod, attr, wrapper)

    def install(self) -> None:
        for module, fn, span in TRACE_TARGETS:
            original = getattr(importlib.import_module(f"{PACKAGE}.{module}"), fn)
            self._patch(original, self.tracer.wrap(span, original))
        catalog = importlib.import_module(f"{PACKAGE}.plans.catalog")
        self._patch(catalog.table, self._counting_table(catalog.table))

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self.patches):
            setattr(mod, attr, original)
        self.patches.clear()


class SparkCounters:
    """Jobs, tasks, executor run time, shuffle writes and spill of one
    op, read by job group through the status tracker and status store."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self.tracker = spark.sparkContext.statusTracker()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()

    def read(self, op: int) -> dict[str, float]:
        self.bus.waitUntilEmpty()
        out = {"build_jobs": 0, "action_jobs": 0, "tasks": 0, "run_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0}
        stages: set[int] = set()
        for prefix, key in (("b", "build_jobs"), ("a", "action_jobs")):
            jobs = self.tracker.getJobIdsForGroup(f"{prefix}{op}")
            out[key] = len(jobs)
            for j in jobs:
                info = self.tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
        for s in stages:
            st = self.store.lastStageAttempt(s)
            out["tasks"] += st.numCompleteTasks()
            out["run_s"] += st.executorRunTime() / 1000
            out["shuffle_mb"] += st.shuffleWriteBytes() / 2**20
            out["spill_mb"] += st.diskBytesSpilled() / 2**20
        return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its live
    descendants (the gateway JVM, the Python worker daemon and its
    workers), including descendants they have already reaped."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited while we scanned
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier and p not in tree]
        tree.update(kids)
        frontier = kids
    return sum(ticks.get(p, 0) for p in tree) / measure.CLOCK_TICKS


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's JIT compiler threads (kept
    alive for the whole run by -XX:-UseDynamicNumberOfCompilerThreads,
    so none of their time is lost when a thread exits)."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if "CompilerThre" in stat[stat.index("(") : stat.rindex(")")]:
            total += sum(int(x) for x in stat[stat.rindex(")") + 2 :].split()[11:13])
    return total / measure.CLOCK_TICKS


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


class Runner:
    """Runs passes of one workload and keeps the op and failure counts."""

    def __init__(self, workload, spark, trace: bool) -> None:
        self.w = workload
        self.spark = spark
        self.jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.next_op = 0
        self.tracer = measure.Tracer() if trace else None
        self.traced = Traced(spark, self.tracer) if trace else None
        self.counters = SparkCounters(spark) if trace else None

    def fail(self, detail: str) -> None:
        self.failed += 1
        self.problems.append(detail)

    def run_pass(self, traced: bool = False) -> dict:
        hooks = self.traced if traced else Untraced()
        sc = self.spark.sparkContext
        names, latencies, cpu, jit, stolen, ops, counts, pinned = [], [], [], [], [], [], [], []
        if traced:
            self.traced.install()
        try:
            for q in self.w.pass_order():
                op = self.next_op
                self.next_op += 1
                self.attempted += 1
                if traced:
                    self.tracer.op = op
                    sc.setJobGroup(f"a{op}", "op")
                c, j, st = tree_cpu_s(), jit_cpu_s(self.jvm_pid), measure.stolen_s()
                t = time.perf_counter()
                try:
                    with self.tracer.span("bench.op") if traced else contextlib.nullcontext():
                        res = self.w.run_op(self.spark, q, hooks)
                except Exception as e:  # an op that raises counts as failed; the run goes on
                    res = workloads.OpResult(False, f"{q}: raised {type(e).__name__}: {str(e)[:300]}")
                latencies.append(time.perf_counter() - t)
                jit.append(jit_cpu_s(self.jvm_pid) - j)
                cpu.append(tree_cpu_s() - c - jit[-1])
                stolen.append(measure.stolen_s() - st)
                names.append(q)
                ops.append(op)
                if traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    counts.append((q, self.counters.read(op)))
                checked = self.w.after_op(self.spark, q)
                pinned.append(checked.pinned)
                if not (res.ok and checked.ok):
                    self.fail("; ".join(r.detail for r in (res, checked) if not r.ok))
        finally:
            if traced:
                self.traced.uninstall()
        return {
            "time": sum(latencies),
            "cpu": sum(cpu),
            "jit": sum(jit),
            "stolen": sum(stolen),
            "names": names,
            "latencies": latencies,
            "ops": ops,
            "counts": counts,
            "pinned": pinned,
        }


def start_session(work_dir: str):
    from car_insurance_data_pipeline_spark_spark.session import get_session

    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_session(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={local} -Dderby.system.home={work_dir}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def timed_passes(seconds: int, nominal_pass_s: float) -> int:
    return max(MIN_TIMED_PASSES, round(seconds / nominal_pass_s))


def end_to_end(w, setup_s: float, passes: list[dict]) -> tuple[dict, list[str]]:
    times = [p["time"] for p in passes]
    lat = [x for p in passes for x in p["latencies"]]
    p50 = measure.median(times)
    cpu50 = measure.median([p["cpu"] for p in passes])
    metrics = {
        "setup_s": (setup_s, "s", 1),
        "cpu_p50_s": (cpu50, "s", len(passes)),
    }
    p90 = measure.reportable_percentile(lat, 90)
    # Time the hypervisor took from the machine's CPUs during a pass,
    # per CPU, is time the pass could not run.
    unstolen = [p["time"] - p["stolen"] / measure.NCPU for p in passes]
    notes = [
        f"pass_p50_s = {p50:.4f} s (n={len(times)}), {measure.median(unstolen):.4f} s less stolen CPU / CPUs; "
        f"wall_s = {sum(times):.4f} s; "
        f"rows_per_s = {w.input_rows / p50:.1f} over {w.input_rows} input rows",
        f"op_p50_s = {measure.median(lat):.4f} s (n={len(lat)}); op_p90_s = "
        f"{'n/a' if p90 is None else f'{p90:.4f}'} s (needs >= {measure.MIN_TAIL} samples beyond it)",
        f"first timed pass: CPU {passes[0]['cpu']:.2f} s ({passes[0]['cpu'] / cpu50 - 1:+.1%} of cpu_p50_s), "
        f"wall {times[0]:.4f} s ({times[0] / p50 - 1:+.1%} of pass_p50_s)",
        "passes (s): " + " ".join(f"{x:.3f}" for x in times),
        "passes less stolen CPU / CPUs (s): " + " ".join(f"{x:.3f}" for x in unstolen),
        "CPU per pass, JIT excluded (s): " + " ".join(f"{p['cpu']:.2f}" for p in passes),
        "JIT compiler CPU per pass (s): " + " ".join(f"{p['jit']:.2f}" for p in passes),
    ]
    by_op: dict[str, list[float]] = {}
    for p in passes:
        for q, x in zip(p["names"], p["latencies"]):
            by_op.setdefault(q, []).append(x)
    notes.append("op medians (s): " + " ".join(f"{q}={measure.median(x):.3f}" for q, x in sorted(by_op.items())))
    return metrics, notes


def per_layer(
    w, runner: Runner, untraced: list[dict], traced: list[dict], session_s: float, peak_mb: float
) -> tuple[dict, list[str]]:
    tr = runner.tracer
    per_pass = [tr.layer_self_times(set(p["ops"])) for p in traced]

    def med(f) -> float:
        return measure.median([f(i) for i in range(len(traced))])

    def self_s(name: str) -> float:
        return med(lambda i: sum(v for k, v in per_pass[i].items() if k == name or k.startswith(name + "/")))

    def build_share(i: int) -> float:
        ops = set(traced[i]["ops"])
        build = sum(s.end - s.start for s in tr.spans if s.op in ops and s.name == "plans.build")
        return build / traced[i]["time"]

    n_ops = len(traced[0]["ops"])
    m: dict[str, tuple[float, str]] = {"session.get_session_s": (session_s, "s")}
    m["sources.read_csv_s"] = (self_s("sources.read_csv"), "s")
    m["sources.write_parquet_s"] = (self_s("sources.write_parquet"), "s")
    for t in workloads.ETL_TABLES:
        m[f"sources.write_parquet_s.{t}"] = (self_s(f"sources.write_parquet/{t}"), "s")
    etl = isinstance(w, workloads.InsuranceWorkload)
    files = measure.median(w.files_written) if etl else 0
    written = measure.median(w.bytes_written) if etl else 0
    m["sources.files_written"] = (files, "count")
    m["sources.bytes_written_mb"] = (written / 2**20, "MB")
    m["sources.stored_bytes_ratio"] = (written / w.input_bytes if etl else 0.0, "ratio")
    m["plans.insurance.build_s"] = (self_s("plans.insurance.build"), "s")
    m["plans.insurance.run_pipeline_s"] = (self_s("plans.insurance.run_pipeline"), "s")
    m["plans.build_s"] = (self_s("plans.build"), "s")
    m["plans.action_s"] = (self_s("plans.action"), "s")
    m["plans.build_share"] = (med(build_share), "ratio")
    calls = runner.traced.table_calls
    m["plans.table_cache_hit_ratio"] = (runner.traced.table_hits / calls if calls else 0.0, "ratio")
    for o in OPERATORS:
        m[f"{o}_s"] = (self_s(o), "s")
    m["operators.pinned_blocks_per_op"] = (med(lambda i: sum(traced[i]["pinned"])) / n_ops, "count")

    def total(i: int, key: str) -> float:
        return sum(c[key] for _, c in traced[i]["counts"])

    m["memory.peak_rss_mb"] = (peak_mb, "MB")
    m["jvm.jit_cpu_s"] = (med(lambda i: traced[i]["jit"]), "s")
    m["host.stolen_cpu_s"] = (med(lambda i: traced[i]["stolen"]), "s")
    m["spark.build_jobs_per_op"] = (med(lambda i: total(i, "build_jobs")) / n_ops, "count")
    m["spark.action_jobs_per_op"] = (med(lambda i: total(i, "action_jobs")) / n_ops, "count")
    m["spark.jobs_per_pass"] = (med(lambda i: total(i, "build_jobs") + total(i, "action_jobs")), "count")
    m["spark.tasks_per_pass"] = (med(lambda i: total(i, "tasks")), "count")
    m["spark.executor_run_s"] = (med(lambda i: total(i, "run_s")), "s")
    m["spark.executor_idle_s"] = (med(lambda i: CORES * traced[i]["time"] - total(i, "run_s")), "s")
    m["spark.shuffle_write_mb"] = (med(lambda i: total(i, "shuffle_mb")), "MB")
    m["spark.spill_mb"] = (med(lambda i: total(i, "spill_mb")), "MB")
    u50 = measure.median([p["time"] for p in untraced])
    t50 = measure.median([p["time"] for p in traced])
    m["bench.pass_p50_s"] = (u50, "s")
    m["trace.overhead_s"] = (t50 - u50, "s")

    jobs = {}
    for p in traced:
        for q, c in p["counts"]:
            jobs.setdefault(q, set()).add((c["build_jobs"], c["action_jobs"]))
    varying = sorted(q for q, seen in jobs.items() if len(seen) > 1)
    layers = med(lambda i: sum(v for k, v in per_pass[i].items() if k != "bench.op"))
    notes = [
        f"untraced pass_p50_s = {u50:.4f} s (n={len(untraced)}), traced = {t50:.4f} s (n={len(traced)})",
        f"layer self times = {layers:.4f} s per traced pass; bench.op residual = {self_s('bench.op'):.4f} s",
        "jobs per op repeat exactly across traced passes"
        if not varying
        else f"jobs per op VARY across traced passes for: {', '.join(varying)}",
    ]
    return m, notes


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no hsperfdata file outside the checkout

    w = workloads.make(args.workload)
    trace = bool(args.trace)
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t
        runner = Runner(w, spark, trace)
        t, stolen_at_prepare = time.perf_counter(), measure.stolen_s()
        for problem in w.prepare(spark, work, args.seed):
            runner.fail(problem)
        runner.attempted += len(w.queries)
        prepare_s = time.perf_counter() - t
        # process start, imports and session start, less stolen CPU time
        started_s = t - T0 - (stolen_at_prepare - STOLEN0) / measure.NCPU
        setup_s = started_s + w.cold.seconds

        n = timed_passes(args.seconds, w.nominal_pass_s)
        untraced, traced = [], []
        for i in range(2 * n if trace else n):
            is_traced = trace and i % 2 == 1
            (traced if is_traced else untraced).append(runner.run_pass(traced=is_traced))
        peak_mb = vm_hwm_mb(runner.jvm_pid) + vm_hwm_mb("self")

        header = (
            f"perfbench workload={w.name} seed={args.seed} master=local[{CORES}] "
            f"timed_passes={len(untraced) + len(traced)} trace={args.trace}"
        )
        if trace:
            metrics, notes = per_layer(w, runner, untraced, traced, session_s, peak_mb)
            single = ("session.get_session_s", "memory.peak_rss_mb")
            metrics = {k: (float(v), u, 1 if k in single else len(traced)) for k, (v, u) in metrics.items()}
            spans = os.path.join(ROOT, ".perfbench_work", f"spans-{w.name}-{args.seed}.json")
            runner.tracer.dump(spans)
            notes.append(f"spans written to {os.path.relpath(spans, ROOT)}")
        else:
            metrics, notes = end_to_end(w, setup_s, untraced)
            notes.append(f"peak RSS, JVM + driver VmHWM = {peak_mb:.1f} MB (per-layer memory.peak_rss_mb)")
        notes.append(
            f"set-up: process and session start {started_s:.2f} s (session {session_s:.2f} s), "
            f"program calls of the cold pass {w.cold.seconds:.2f} s, both less stolen CPU / CPUs; "
            f"wall time to the first timed pass {t - T0 + prepare_s:.2f} s, with input generation and checks"
        )
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = [m["name"] for m in json.load(f)["per_layer" if trace else "end_to_end"]]
    if list(metrics) != declared:
        print(f"perfbench: emitted metrics {list(metrics)} differ from BENCHMARK.json {declared}", file=sys.stderr)
        return 3
    print(header)
    for name, (value, unit, samples) in metrics.items():
        print(f"  {name:<48} {value:>14.4f} {unit:<6} (n={samples})")
    for note in notes:
        print(f"  {note}")
    print(f"  fail_ratio = {runner.failed}/{runner.attempted}")
    for p in runner.problems[:20]:
        print(f"  FAILED: {p}")
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
