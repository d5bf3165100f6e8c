"""The repo benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 7 --trace 0

Set-up (untimed): prepare the fixture if missing, start the Spark session
through the package's ``get_spark``, then run one cold pass that also
verifies every item's output (row count + order-insensitive multiset
digest against ``expected.json``), and one warm pass. Then items run one
after another into the ``noop`` sink, in an order drawn from ``--seed``, in
whole passes until ``--seconds`` have elapsed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
loop with spans and Spark status-store readings and prints the per-layer
metrics plus a per-item breakdown. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. A self-describing record
of every run is written under ``.perfbench-work/records/`` and never
replaces an existing one.

Maintainer flags: ``--lane`` runs a workload on another fixture (the
self-test uses ``sf0.001``), ``--corrupt-expected`` alters one expected
digest in memory to prove a mismatch is reported as a failure. Each
verified item's row count and digest are printed on its ``verify`` line,
from where they are copied into ``expected.json`` by hand once
``tools/selfcheck.py`` has passed for that item on that fixture.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import re
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
PACKAGE = os.path.join(ROOT, "arc_cassandra_pipeline_plugin_spark")
TWIN_TOOL = os.path.join(ROOT, "tools", "gen_sf1_twin.py")
TWIN_DIR = os.path.join(ROOT, ".fixtures", "sf1-twin")
TWIN_MARK = "v3 replicas=10"
TWIN_ROWS = {"lineitem": 6_000_000, "documents": 50_000, "embeddings": 20_000}
EXPECTED = os.path.join(HERE, "expected.json")
CLK_TCK = os.sysconf("SC_CLK_TCK")

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from spans import SparkReader, Tracer, item_figures, layer_metrics  # noqa: E402
from workloads import WORKLOADS, config_text, digest  # noqa: E402


def since_start() -> float:
    """Seconds since this process was started (interpreter start-up and
    imports included)."""
    with open("/proc/self/stat") as fh:
        start = int(fh.read().rsplit(")", 1)[1].split()[19]) / CLK_TCK
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def testdata_root() -> str:
    """The fixture root the repo's tools read from: the parent of the sf0.1
    directory that ``tools/gen_sf1_twin.py`` replicates."""
    sys.path.insert(0, os.path.dirname(TWIN_TOOL))
    try:
        from gen_sf1_twin import SRC
    except ImportError as exc:
        die(f"cannot locate the fixtures: {exc}")
    return os.path.dirname(SRC)


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def prepare_twin() -> float:
    """Generate the 10x twin with the repo's tool when it is missing or
    stale, check its row counts; return the seconds spent."""
    t0 = time.perf_counter()
    marker = os.path.join(TWIN_DIR, "_COMPLETE")
    current = ""
    if os.path.exists(marker):
        with open(marker) as fh:
            current = fh.read()
    if not current.startswith(TWIN_MARK + " "):
        r = subprocess.run([sys.executable, TWIN_TOOL], cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            die(f"sf1-twin generation failed: {r.stderr[-2000:]}")
    for table, want in TWIN_ROWS.items():
        got = parquet_rows(os.path.join(TWIN_DIR, f"{table}.parquet"))
        if got != want:
            die(f"sf1-twin {table} has {got} rows, expected {want}")
    return time.perf_counter() - t0


def descendants(root: int) -> list[int]:
    """Every process below ``root``, from the ppid field of /proc/*/stat."""
    parents = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                parents[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    kids, todo = [], [root]
    while todo:
        p = todo.pop()
        for pid, ppid in parents.items():
            if ppid == p:
                kids.append(pid)
                todo.append(pid)
    return kids


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        kb = re.search(r"^VmHWM:\s+(\d+) kB", fh.read(), re.M).group(1)
    return int(kb) / 1024


def git_state() -> tuple[str, bool | None]:
    """Commit and dirty flag, or "unknown" when the checkout has no .git."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown", None
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True, text=True)
    except OSError:
        return "unknown", None
    if head.returncode != 0:
        return "unknown", None
    return head.stdout.strip(), bool(dirty.stdout.strip())


def session_env(cpus: int) -> None:
    """Environment for every Spark process this run starts (the twin
    generator and the session): scratch space inside the checkout, the
    package importable by Python workers, and the core count."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_*
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)


def start_session():
    """The package's own session."""
    from arc_cassandra_pipeline_plugin_spark.sources import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, close the JVM and wait for it and every process under it.

    ``spark.stop()`` alone leaves the JVM to exit with this process, and the
    JVM's own children can outlive it: in three of seven trials on 4 cores
    a child of the JVM was still running 1.3-1.8 s after ``proc.wait()``
    had returned. So they are listed before the JVM goes and waited for
    (killed after 10 s), and no run leaves a process behind to overlap the
    next run's set-up."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    kids = descendants(proc.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 10
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


class Runner:
    """Executes items; optionally traced."""

    def __init__(self, spark, workload, sf_dir: str):
        self.spark = spark
        self.workload = workload
        self.sf_dir = sf_dir
        self.tracer = None
        self.n = 0
        if workload.kind == "queries":
            from arc_cassandra_pipeline_plugin_spark.queries import load_all

            registry = load_all()
            self.fns = {i: registry[i].fn for i in workload.items}
        else:
            self.configs = {i: config_text(i) for i in workload.items}

    def _span(self, name: str, item_id: str):
        return self.tracer.span(name, item_id) if self.tracer else nullcontext()

    def _build(self, item: str, item_id: str):
        if self.workload.kind == "queries":
            with self._span("queries.build", item_id):
                return self.fns[item](self.spark, self.sf_dir), "queries.exec"
        from arc_cassandra_pipeline_plugin_spark.config import parse_config
        from arc_cassandra_pipeline_plugin_spark.context import PipelineContext

        ctx = PipelineContext(environment="test")
        with self._span("config.parse", item_id):
            pipeline = parse_config(self.configs[item], ctx)
        if self.tracer:
            for stage in pipeline.stages:
                stage.execute = self._traced_stage(stage, item_id)
        with self._span("pipeline.run", item_id):
            return pipeline.run(self.spark, ctx), "pipeline.result"

    def _traced_stage(self, stage, item_id: str):
        inner = stage.execute

        def execute(spark, ctx):
            with self.tracer.span(f"stages.{stage.stage_type}", item_id):
                return inner(spark, ctx)

        return execute

    def run(self, item: str, verify: bool):
        """One execution; returns (latency s, job group, item span or None,
        digest or None)."""
        self.n += 1
        item_id = f"{item}#{self.n}"
        group = f"perfbench-{self.n}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, item)
        t0 = time.perf_counter()
        try:
            with self.tracer.item(item_id, group) if self.tracer else nullcontext() as span:
                df, action = self._build(item, item_id)
                with self._span(action, item_id):
                    if verify:
                        out = digest(df.columns, df.collect())
                    else:
                        df.write.format("noop").mode("overwrite").save()
                        out = None
        finally:
            sc.setJobGroup(None, None)
        return time.perf_counter() - t0, group, span, out


def lane_dir(lane: str) -> str:
    return TWIN_DIR if lane == "sf1-twin" else os.path.join(testdata_root(), lane)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--lane", help="fixture directory name instead of the workload's own")
    ap.add_argument("--corrupt-expected", action="store_true")
    args = ap.parse_args()

    if not os.path.isdir(PACKAGE):
        die(f"the engine package is not in this checkout ({PACKAGE})")
    wl = WORKLOADS[args.workload]
    lane = args.lane or wl.lane
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    session_env(cpus)
    prep_s = prepare_twin() if lane == "sf1-twin" else 0.0
    sf_dir = lane_dir(lane)
    if not os.path.isdir(sf_dir):
        die(f"fixture directory {sf_dir} is missing")
    print(f"fixture_prep_s {prep_s:.3f} (lane {lane}, not part of setup_s)")

    with open(EXPECTED) as fh:
        expected = json.load(fh)
    want = dict(expected.get(lane, {}))
    if args.corrupt_expected:
        first = wl.items[0]
        want[first] = {**want.get(first, {"rows": 0}), "digest": "0" * 32}

    scratch = os.path.join(WORK, f"scratch-{os.getpid()}")
    os.environ["PERFBENCH_SCRATCH"] = scratch
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    spark = start_session()
    try:
        return measure(spark, args, wl, lane, sf_dir, want, prep_s, cpus)
    finally:
        stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)


class Tally:
    """Attempted and failed item executions, with what went wrong."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def run(self, runner, item: str, verify: bool):
        self.attempted += 1
        try:
            return runner.run(item, verify)
        except Exception as exc:  # noqa: BLE001 - counted, reported, run goes on
            self.fail(f"{item}: {type(exc).__name__}: {str(exc)[:300]}")
            return None

    def fail(self, problem: str) -> None:
        self.failed += 1
        self.problems.append(problem)


def measure(spark, args, wl, lane, sf_dir, want, prep_s, cpus) -> int:
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    reader = SparkReader(spark)
    runner = Runner(spark, wl, sf_dir)
    rng = random.Random(args.seed)
    tally = Tally()

    def shuffled():
        order = list(wl.items)
        rng.shuffle(order)
        return order

    # set-up, untimed: a cold pass that also checks every output, then one
    # pass into the noop sink. Each item's first warm execution still runs
    # up to twice as slow as later ones while the JIT compiles; leaving it
    # in the timed window made the spread between runs 1.5x wider.
    for item in shuffled():
        res = tally.run(runner, item, verify=True)
        if res is None:
            continue
        got = res[3]
        if want.get(item) != got:
            tally.fail(f"{item}: output {got} != expected {want.get(item)}")
        print(f"verify {item} {got['rows']} rows digest {got['digest']} {res[0]:.3f} s")
    for item in shuffled():
        tally.run(runner, item, verify=False)
    setup_s = since_start() - prep_s

    # timed loop: whole passes until --seconds have elapsed. With --trace 1
    # every second pass is traced; the untraced passes in between give the
    # untraced wall_s that the tracing overhead is measured against.
    tracer = Tracer(reader) if args.trace else None
    lat: dict[str, list[float]] = {i: [] for i in wl.items}
    traced_lat: dict[str, list[float]] = {i: [] for i in wl.items}
    traced: dict[str, list[dict]] = {i: [] for i in wl.items}
    groups: list[list[str]] = []  # job groups of each untraced pass
    passes = traced_passes = 0
    t0 = time.perf_counter()
    while passes < 1 + args.trace or time.perf_counter() - t0 < args.seconds:
        runner.tracer = tracer if passes % 2 else None
        if not runner.tracer:
            groups.append([])
        for item in shuffled():
            res = tally.run(runner, item, verify=False)
            if res is None:
                continue
            if runner.tracer:
                traced_lat[item].append(res[0])
                traced[item].append(item_figures(tracer, res[2]))
            else:
                lat[item].append(res[0])
                groups[-1].append(res[1])
        traced_passes += runner.tracer is not None
        passes += 1
    loop_s = time.perf_counter() - t0
    plain_passes = passes - traced_passes

    for p in tally.problems:
        print(f"FAILED {p}")
    lat = {i: v for i, v in lat.items() if v}
    if not lat:
        die("no item completed a timed execution")
    pass_cpu = [sum(s["cpu_s"] for j in reader.jobs([j for g in gs for j in reader.job_ids(g)])
                    for s in j["stages"]) for gs in groups]
    medians = [statistics.median(v) for v in lat.values()]
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (sum(medians), "s"),
        "item_geomean_s": (statistics.geometric_mean(medians), "s"),
        "cpu_s": (statistics.median(pass_cpu), "s"),
        "py_rss_mb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, "MB"),
    }
    all_lat = sorted(x for v in lat.values() for x in v)
    n = len(all_lat)
    print(f"loop {loop_s:.3f} s, {plain_passes} untraced + {traced_passes} traced passes, "
          f"{n} untraced item executions, "
          f"failed_frac {tally.failed / tally.attempted:.4f} ({tally.failed}/{tally.attempted})")
    print(f"item_p50_s {statistics.median(all_lat):.4f} s (n={n})")
    if n > 10:  # highest percentile with ten samples beyond it
        print(f"item_tail_s {all_lat[n - 11]:.4f} s (p{100 * (n - 10) / n:.0f}, n={n})")
    else:
        print(f"item_tail_s n/a (n={n}: fewer than eleven executions)")
    print(f"jvm_rss_mb {vm_hwm_mb(jvm_pid):.1f} MB (VmHWM)")

    if tracer:
        metrics = layer_metrics(tracer, {i: v for i, v in traced.items() if v}, traced_passes, cpus)
        traced_wall = sum(statistics.median(v) for v in traced_lat.values() if v)
        metrics["trace.overhead_s"] = {"value": traced_wall - e2e["wall_s"][0], "unit": "s"}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for k, m in metrics.items():
        print(f"metric {args.workload} {k} = {m['value']} {m['unit']}")

    write_record(args, wl, lane, sf_dir, cpus, spark, {
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "metrics": metrics, "latencies": lat, "traced_latencies": traced_lat if tracer else None,
        "passes": plain_passes, "traced_passes": traced_passes,
        "attempted": tally.attempted, "failed": tally.failed, "problems": tally.problems,
        "per_item": traced if tracer else None,
    }, tracer)
    print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}, separators=(",", ":")))
    return 0


def write_record(args, wl, lane, sf_dir, cpus, spark, result, tracer) -> None:
    commit, dirty = git_state()
    fixture = lane
    if lane == "sf1-twin":
        with open(os.path.join(TWIN_DIR, "_COMPLETE")) as fh:
            fixture = fh.read().strip()
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "commit": commit, "dirty": dirty, "cpus": cpus,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "lane": lane, "sf_dir": sf_dir, "fixture": fixture,
        "spark": spark.version, "python": platform.python_version(),
        "items": list(wl.items), **result,
    }
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    stem = (f"{wl.name}-trace{args.trace}-seed{args.seed}-"
            f"{time.strftime('%Y%m%dT%H%M%SZ', time.gmtime())}-{os.getpid()}")
    with open(os.path.join(rec_dir, stem + ".json"), "x") as fh:
        json.dump(record, fh, indent=1, default=str)
    if tracer:
        with open(os.path.join(rec_dir, stem + "-spans.json"), "x") as fh:
            json.dump(tracer.spans, fh, default=str)
    print(f"record {os.path.relpath(os.path.join(rec_dir, stem + '.json'), ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
