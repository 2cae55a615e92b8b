"""Benchmark entry point for the Avro → Parquet → Spark SQL engine.

    python3 perfbench/run.py --workload ingest_curate --seed 1 --seconds 1 --trace 0

Run from the repository root. One process, one client, closed loop on
``local[<cores>]``: it sets up the engine, builds a seeded lake under
``.bench_work/``, runs the workload's ops once in the fresh process (the
cold pass), then warm passes while ``--seconds`` allow, checks every op's
output, and prints one JSON object as its last line. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, timed on the cold pass, with
``setup_s`` the median over this process and ``SETUP_PROBES`` fresh ones;
``--trace 1`` adds a traced and an untraced warm pass, reports the per-layer
metrics and writes the spans to ``.bench_work/traces/``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import lake
from procstat import ProcessTree, cpu_delta, steal_s
from spans import Tracer
from sparkprobe import JobGroupCounters, StreamProgress, add_counters
from workloads import WORKLOADS, CheckFailed

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
PACKAGE = "avro_parquet_spark_example_spark"
CLK_TCK = os.sysconf("SC_CLK_TCK")
#: A traced run skips its untraced warm pass after this many seconds, to end
#: within the 180 s a run may take; the warm-pass metrics then count as
#: failures.
LATE_S = 130
#: Whole-pass metrics only a workload with write ops produces.
WRITE_METRICS = ("workload.cold_write_s", "workload.bytes_per_row_written")
#: Set-ups an untraced run makes besides its own, for the median setup_s.
SETUP_PROBES = 1
PROBE_TIMEOUT_S = 40


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc/self/stat``."""
    with open("/proc/self/stat", "rb") as f:
        fields = f.read().rsplit(b")", 1)[1].split()
    start = int(fields[19]) / CLK_TCK  # field 22: start time after boot
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def prepare_env(run_dir: str, cores: int) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``run_dir``, and let the workers import the engine from the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # The workers run the driver's interpreter, not whatever ``python``
    # resolves to on the PATH.
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf",
            shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"),
            "pyspark-shell",
        ]
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


class Context:
    """What ops see: the session, the lake, and the tracing hooks."""

    def __init__(self, spark, eng, lake_dir, work_dir, seed, cores, oracle, tracer, procs):
        self.spark, self.eng = spark, eng
        self.lake_dir, self.work_dir = lake_dir, work_dir
        self.seed, self.cores = seed, cores
        self.oracle, self.tracer, self.procs = oracle, tracer, procs
        self.counters = None
        self.listener = None
        self.begin_pass(False)

    def begin_pass(self, tracing: bool) -> None:
        self.tracing = self.tracer.enabled = tracing
        self.layer: dict[str, float] = {}
        self.calls: list[tuple[str, list[str], dict[str, float]]] = []
        self.rows_written = 0
        self.bytes_written = 0
        self.known_runs = set(self.listener.progress) if self.listener else set()

    def add(self, metric: str, value: float) -> None:
        self.layer[metric] = self.layer.get(metric, 0.0) + value

    def written(self, rows: int, size: int) -> None:
        self.rows_written += rows
        self.bytes_written += size

    def call(self, layer: str, fn, *args, **kwargs):
        """Run ``fn``; when tracing, time it as ``layer`` (``<module>.<timer>``)
        with a span, a job group for its Spark jobs and its Python worker CPU."""
        if not self.tracing:
            return fn(*args, **kwargs)
        module, timer = layer.rsplit(".", 1)
        before = self.procs.snapshot()
        group = self.counters.open(module)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(layer):
                return fn(*args, **kwargs)
        finally:
            wall = time.perf_counter() - t0
            self.counters.close()
            cpu = cpu_delta(before, self.procs.snapshot())
            self.calls.append(
                (module, [group], {timer: wall, "python_cpu_s": cpu["python_worker"]})
            )

    def phased_call(self, module: str, build, plan, execute):
        """A registered query: plan build, Catalyst planning, execution."""
        if not self.tracing:
            return execute(build())
        group = self.counters.open(module)
        walls: dict[str, float] = {}
        try:
            with self.tracer.span(module):
                t0 = time.perf_counter()
                with self.tracer.span(f"{module}.build"):
                    df = build()
                t1 = time.perf_counter()
                with self.tracer.span(f"{module}.plan"):
                    plan(df)
                t2 = time.perf_counter()
                with self.tracer.span(f"{module}.exec"):
                    out = execute(df)
                t3 = time.perf_counter()
            walls = {"build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2}
            return out
        finally:
            self.counters.close()
            self.calls.append((module, [group], walls))

    def resolve_layers(self) -> dict[str, float]:
        """Per-layer metrics of the traced pass that just ended."""
        self.counters.drain()  # so every streaming progress report has arrived
        per_module: dict[str, dict[str, float]] = {}
        for module, groups, values in self.calls:
            acc = per_module.setdefault(module, {})
            add_counters(acc, values)
            add_counters(acc, self.counters.read(groups))
        runs = [r for r in list(self.listener.progress) if r not in self.known_runs]
        if runs:
            acc = per_module.setdefault("streaming.stateful", {})
            acc.update(self.listener.summary(runs))
            acc["jobs"] = acc.get("jobs", 0.0) + self.counters.read(runs)["jobs"]
        out = dict(self.layer)
        for module, acc in per_module.items():
            for k, v in acc.items():
                out[f"{module}.{k}"] = out.get(f"{module}.{k}", 0.0) + v
        return out


def run_pass(ctx: Context, ops, traced: bool, label: str) -> dict:
    ctx.begin_pass(traced)
    steal0 = steal_s()
    ctx.tracer.run_id = label
    ctx.procs.reset_peak()
    cpu0 = ctx.procs.snapshot()
    results = []
    t_pass = time.perf_counter()
    with ctx.tracer.span("pass"):
        for op in ops:
            t0 = time.perf_counter()
            out, err = None, None
            try:
                with ctx.tracer.span(f"op.{op.name}"):
                    out = op.run()
            except Exception as exc:  # a failing op is counted, the pass goes on
                err = f"{type(exc).__name__}: {exc}"
                traceback.print_exc(file=sys.stderr)
            results.append((op, out, err, time.perf_counter() - t0))
    wall = time.perf_counter() - t_pass
    stolen = steal_s() - steal0
    cpu = cpu_delta(cpu0, ctx.procs.snapshot())
    peak = ctx.procs.peak_rss_bytes()
    failures = []
    for op, out, err, _ in results:
        if err is None:
            try:
                op.check(out)
            except CheckFailed as exc:
                err = f"check failed: {exc}"
            except Exception as exc:
                err = f"check raised {type(exc).__name__}: {exc}"
        if err is not None:
            failures.append(f"{label} {op.name}: {err}")
    rec = {
        "label": label,
        "traced": traced,
        "pass_s": wall,
        "read_s": sum(w for op, _, _, w in results if op.kind == "read"),
        "write_s": sum(w for op, _, _, w in results if op.kind == "write"),
        "cpu_s": cpu["total"],
        "peak_rss_mb": peak / 2**20,
        "steal_s": stolen,
        "ops_s": {op.name: w for op, _, _, w in results},
        "attempted": len(results),
        "failures": failures,
        "rows_written": ctx.rows_written,
        "bytes_written": ctx.bytes_written,
    }
    if traced:
        rec["layers"] = ctx.resolve_layers()
    return rec


def unmeasured(derived: dict, wanted: list[dict], workload, ops) -> list[str]:
    """Failures for per-layer metrics a traced run should have produced and
    did not, and for job or batch counters that read 0 on a layer the
    workload runs (the job-group counters or the listener stopped working).
    Metrics of layers the workload does not run are set to 0 here."""
    writes = any(op.kind == "write" for op in ops)
    failures = []
    for m in wanted:
        name = m["name"]
        layer = name.rsplit(".", 1)[0]
        runs = (
            layer in workload.layers
            or layer in ("session", "trace")
            or (layer == "workload" and (writes or name not in WRITE_METRICS))
        )
        if not runs:
            derived[name] = 0.0
        elif name not in derived:
            failures.append(f"traced run did not measure {name}")
        elif name.endswith((".jobs", ".batches")) and derived[name] <= 0:
            failures.append(f"{name} read 0 on a layer the workload runs")
    return failures


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            return f.read().rsplit(b")", 1)[1].split()[0] != b"Z"
    except OSError:
        return False


def stop_spark(spark, procs) -> None:
    """Stop the session and the JVM, and wait for every process they started
    (the JVM, the PySpark daemon and its workers) to end."""
    from pyspark import SparkContext

    children = [p for p in procs.members() if p != procs.root]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while True:
        for pid in children:  # reap those that are our own children
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        left = [p for p in children if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # On SIGTERM, unwind through the finally blocks that stop Spark.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: the engine package {PACKAGE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"error: unknown workload {args.workload!r}; have {names}", file=sys.stderr)
        return 2

    cores = os.cpu_count() or 1
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(run_dir, cores)
    try:
        return measure(args, spec, run_dir, cores)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def set_up(cores: int, tracer: Tracer):
    """Set the engine up as a user does: the configured session, the query
    registry and the ``avrofile`` data source. Returns the session and the
    seconds ``get_session`` took."""
    tracer.run_id = "setup"
    with tracer.span("setup"):
        with tracer.span("session.start"):
            from avro_parquet_spark_example_spark.session import get_session

            t0 = time.perf_counter()
            spark = get_session(master=f"local[{cores}]")
            start_s = time.perf_counter() - t0
        with tracer.span("registry.load"):
            from avro_parquet_spark_example_spark.registry import all_queries

            all_queries()
        with tracer.span("sources.avro_datasource.register"):
            from avro_parquet_spark_example_spark.sources import avro_datasource

            avro_datasource.ensure_registered(spark)
    return spark, start_s


def probe_setups(run_dir: str, n: int) -> list[float]:
    """``setup_s`` of ``n`` more set-ups, each in a fresh process of its own
    (``setup_once.py``), one after the other."""
    out = []
    for i in range(n):
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "setup_once.py"), os.path.join(run_dir, f"setup{i}")],
            stdout=subprocess.PIPE,
            start_new_session=True,
        )
        try:
            stdout, _ = proc.communicate(timeout=PROBE_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
        if proc.returncode != 0:
            raise RuntimeError(f"setup_once.py exited with {proc.returncode}")
        out.append(json.loads(stdout.decode().strip().splitlines()[-1])["setup_s"])
    return out


def measure(args, spec, run_dir: str, cores: int) -> int:
    tracer = Tracer(enabled=bool(args.trace))
    spark, start_s = set_up(cores, tracer)
    setup_s = process_age_s()
    timeline = {"setup": setup_s}
    spark.sparkContext.setLogLevel("ERROR")

    procs = ProcessTree().start()
    oracle = None
    try:
        from avro_parquet_spark_example_spark.engine import Engine
        from avro_parquet_spark_example_spark.streaming import stateful

        # The streaming queries keep checkpoints under this module path.
        stateful.SCRATCH = os.path.join(run_dir, "streams")
        t0 = time.perf_counter()
        lake_dir = lake.build(args.seed, os.path.join(run_dir, "lake"))
        datagen_s = time.perf_counter() - t0
        oracle = lake.Oracle(lake_dir)
        eng = Engine(spark, sf_dir=lake_dir)
        ctx = Context(spark, eng, lake_dir, run_dir, args.seed, cores, oracle, tracer, procs)
        if args.trace:
            ctx.counters = JobGroupCounters(spark)
            ctx.listener = StreamProgress()
            spark.streams.addListener(ctx.listener)
        workload = WORKLOADS[args.workload](ctx)
        ops = workload.ops()
        in_rows = sum(lake.SIZES[t] for t in workload.input_tables)
        in_bytes = lake.input_bytes(lake_dir, workload.input_tables)

        # A run's budget holds one pass in the fresh process, the cold pass:
        # the end-to-end metrics time it. Warm passes follow while --seconds
        # allow. A traced run adds a traced warm pass and then an untraced
        # one (so the overhead it reports errs high rather than low), unless the
        # run is already late for its time limit.
        timeline["cold pass start"] = process_age_s()
        t_start = time.perf_counter()
        cold = run_pass(ctx, ops, False, "cold")
        passes = []
        if args.trace:
            passes.append(run_pass(ctx, ops, True, "traced"))
            if process_age_s() < LATE_S:
                passes.append(run_pass(ctx, ops, False, "warm"))
        while time.perf_counter() - t_start < args.seconds:
            passes.append(run_pass(ctx, ops, False, f"warm{len(passes)}"))
        codec = None
        if args.trace and hasattr(workload, "codec_rates"):
            codec = workload.codec_rates()
    finally:
        procs.stop()
        if oracle is not None:
            oracle.close()
        timeline["stop"] = process_age_s()
        stop_spark(spark, procs)
        timeline["stopped"] = process_age_s()
    # Untraced runs report setup_s, the median of this process's set-up and
    # of SETUP_PROBES more, each in a process of its own.
    setups = [setup_s]
    if not args.trace:
        setups += probe_setups(run_dir, SETUP_PROBES)
        timeline["set-ups probed"] = process_age_s()

    everything = [cold] + passes
    attempted = sum(p["attempted"] for p in everything)
    failures = [f for p in everything for f in p["failures"]]
    if codec is not None:
        attempted += 1
        if not codec[1]:
            failures.append("avro codec round trip changed the rows")
    error_rate = len(failures) / attempted
    warm = [p for p in passes if not p["traced"]]
    rows = cold["rows_written"]
    derived = {
        "setup_s": median(setups),
        "cold_pass_s": cold["pass_s"],
        "cold_read_s": cold["read_s"],
        "cold_cpu_s": cold["cpu_s"],
        "workload.cold_peak_rss_mb": cold["peak_rss_mb"],
        "workload.error_rate": error_rate,
        "session.start_s": start_s,
    }
    if any(op.kind == "write" for op in ops):
        derived["workload.cold_write_s"] = cold["write_s"]
        if rows:
            derived["workload.bytes_per_row_written"] = cold["bytes_written"] / rows
    if warm:
        derived.update(
            {
                "workload.warm_pass_s": median(p["pass_s"] for p in warm),
                "workload.warm_read_s": median(p["read_s"] for p in warm),
                "workload.warm_cpu_s": median(p["cpu_s"] for p in warm),
                "workload.warm_peak_rss_mb": median(p["peak_rss_mb"] for p in warm),
            }
        )
        derived["session.warmup_s"] = cold["pass_s"] - derived["workload.warm_pass_s"]

    if args.trace:
        traced = [p for p in passes if p["traced"]]
        keys = {k for p in traced for k in p["layers"]}
        for k in keys:
            derived[k] = median(p["layers"].get(k, 0.0) for p in traced)
        if warm:
            derived["trace.overhead_s"] = (
                median(p["pass_s"] for p in traced) - derived["workload.warm_pass_s"]
            )
        if codec is not None:
            derived.update(codec[0])
        wanted = spec["per_layer"]
        # The per-layer report is one more attempt, failed if it is partial.
        attempted += 1
        missing = unmeasured(derived, wanted, workload, ops)
        if missing:
            failures.append("per-layer metrics: " + "; ".join(missing))
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(
            os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"),
            {"passes": everything, "metrics": derived},
        )
    else:
        wanted = spec["end_to_end"]

    # A metric no pass produced reads 0 here; unmeasured() has counted it
    # as a failure unless its layer is one the workload does not run.
    metrics = {m["name"]: {"value": float(derived.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    print(f"# {args.workload} seed={args.seed} cores={cores} lake={datagen_s:.2f}s to build")
    print(f"# input: {in_rows} rows, {in_bytes} bytes of Parquet")
    print(f"# {len(passes)} warm passes after the cold one ({len(warm)} untraced)")
    print(f"# CPU stolen by other guests during the cold pass: {cold['steal_s']:.1f} s")
    print("# set-ups (s): " + ", ".join(f"{v:.2f}" for v in setups))
    print("# timeline (s since process start): " + ", ".join(f"{k} {v:.1f}" for k, v in timeline.items()))
    for name, value in derived.items():
        if not name.startswith(("sources.", "engine.", "operators.", "streaming.")):
            print(f"#   {name:32s} {value:14.4f}")
    for op, cold_s in cold["ops_s"].items():
        line = f"#   op {op:29s} {cold_s:10.4f} s cold"
        if warm:
            line += f" {median(p['ops_s'][op] for p in warm):10.4f} s warm"
        print(line)
    for f in failures:
        print(f"# FAILED {f}")
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": attempted,
                "failed": len(failures),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
