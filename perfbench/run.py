"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 4 --trace 0

Flow of one run (one process, one client, one query at a time):

1. generate the fixture tables once into ``.perfbench/data`` (fixed data
   seed, so expected output digests hold on every machine);
2. set the session up once: from process start to a ready session that
   has run the warm-up query; ``setup_s`` is this one sample, so the runs
   supply its spread;
3. the cold pass: every query once, its output collected and checked
   against ``expected.json`` outside the timed region;
4. ``--trace 0``: at least ``MIN_WARM_PASSES`` warm passes (``noop``
   sink), more until ``--seconds`` have been measured; ``--trace 1``: an untraced warm
   pass, a traced pass that records spans and Spark status-store numbers
   per query, and another untraced pass; the traced pass's extra wall
   time is the overhead.

The seed only permutes query order within each pass. The last stdout
line is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen, layers, stats  # noqa: E402
from perfbench.sparkstats import jit_cpu_s, peak_rss_mb, process_tree, tree_cpu_s  # noqa: E402
from perfbench.workloads import WARMUP_QUERY, WORKLOADS, pass_order  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
#: Fewest warm passes a run measures; wall_s and cpu_s are their medians.
MIN_WARM_PASSES = 3
#: Pause after the between-query hygiene (clearCache + gc), untimed.
SETTLE_S = 0.02
#: Driver JVM heap: the program's default (48g) does not fit small hosts.
DRIVER_MEM = "2g"
#: The heap is committed and touched at JVM start, so heap sizing decisions
#: do not add run-to-run noise to peak RSS; JIT compiler threads are never
#: reaped, so their CPU time can be read per thread (see ``work_cpu_s``).
JVM_OPTS = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads"


def process_age_s() -> float:
    """Seconds since this process started (the kernel's start time)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def pin_environment() -> int:
    """Pin cores, heap and scratch locations inside the checkout; return cores."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    return cores


def ensure_data(spec: dict) -> str:
    """The fixture directory for ``spec``, generated on first use."""
    sf_dir = os.path.join(WORK, "data", f"sf{spec['sf']}-seed{spec['data_seed']}")
    if not os.path.isdir(sf_dir):
        partial = sf_dir + f".partial{os.getpid()}"
        datagen.write(partial, spec["sf"], spec["data_seed"])
        os.replace(partial, sf_dir)
    return sf_dir


def digest(pdf) -> tuple[int, str]:
    """Row count and order-insensitive SHA-256 of a pandas result."""
    from blow_spark.oracle import canonical_rows

    rows = canonical_rows(pdf)
    payload = "\n".join([repr(sorted(pdf.columns))] + [repr(r) for r in rows])
    return len(rows), hashlib.sha256(payload.encode()).hexdigest()


class Bench:
    def __init__(self, workload: str, seed: int, sf_dir: str, expected: dict, tracer) -> None:
        self.workload, self.seed = workload, seed
        self.sf_dir, self.expected, self.tracer = sf_dir, expected, tracer
        self.outcomes: list[bool] = []
        self.errors: list[str] = []
        self.spark = None
        self.catalog = None

    # -- session -------------------------------------------------------
    def setup(self) -> None:
        """Import the catalog, create the session, run the warm-up query."""
        from blow_spark import get_spark
        from blow_spark.queries import queries

        self.catalog = queries()
        jtmp = os.environ["TMPDIR"]
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp} {JVM_OPTS}"},
        )
        self.catalog[WARMUP_QUERY](self.spark, self.sf_dir).write.mode("overwrite").format("noop").save()
        self.hygiene()

    def hygiene(self) -> None:
        self.spark.catalog.clearCache()
        gc.collect()
        time.sleep(SETTLE_S)

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def work_cpu_s(self) -> float:
        """CPU seconds of the process tree so far, less the JIT compiler's.
        At this fixture size compiling the code Spark generates for each
        new plan takes about half the CPU of a warm pass, and how much of
        it falls into a pass varies widely from run to run."""
        return tree_cpu_s(os.getpid()) - jit_cpu_s(self.jvm_pid())

    # -- queries -------------------------------------------------------
    def run_query(self, name: str, collect: bool, traced: bool = False):
        """Build and run one query; return (build_s, action_s, result, ok)."""
        sc = self.spark.sparkContext
        sc.setJobGroup(f"q:{name}", name)
        sc.addJobTag(f"q:{name}")
        tracer = self.tracer if traced else None
        build_s = action_s = 0.0
        result, ok = None, True
        try:
            if tracer:
                tracer.query, tracer.active = name, True
            t0 = time.time()
            span = tracer.begin("queries.build") if tracer else None
            try:
                df = self.catalog[name](self.spark, self.sf_dir)
            finally:
                if tracer:
                    tracer.end(span)
                build_s = time.time() - t0
            t1 = time.time()
            span = tracer.begin("queries.action") if tracer else None
            try:
                if collect:
                    result = df.toPandas()
                else:
                    df.write.mode("overwrite").format("noop").save()
            finally:
                if tracer:
                    tracer.end(span)
                action_s = time.time() - t1
        except Exception:  # noqa: BLE001 - a failing query is counted, the run goes on
            ok = False
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
        finally:
            if tracer:
                tracer.active, tracer.query = False, None
            sc.removeJobTag(f"q:{name}")
            sc._jsc.clearJobGroup()
        return build_s, action_s, result, ok

    def check(self, name: str, pdf) -> bool:
        want = self.expected.get(name)
        if want is None:
            self.errors.append(f"{name}: no expected digest recorded")
            return False
        rows, sha = digest(pdf)
        if (rows, sha) != (want["rows"], want["sha256"]):
            self.errors.append(f"{name}: output {rows} rows {sha[:12]} != expected {want['rows']} rows {want['sha256'][:12]}")
            return False
        return True

    def run_pass(self, index: int, collect: bool = False, traced: bool = False, ledger=None) -> dict:
        """One pass over the workload; returns wall and CPU seconds."""
        wall = cpu = 0.0
        times = {}
        for name in pass_order(self.workload, self.seed, index):
            cpu0 = self.work_cpu_s()
            build_s, action_s, result, ok = self.run_query(name, collect, traced)
            cpu += self.work_cpu_s() - cpu0
            if ok and collect:
                ok = self.check(name, result)
            self.outcomes.append(ok)
            wall += build_s + action_s
            times[name] = build_s + action_s
            if ledger:
                ledger.record(name, build_s, action_s)
            self.hygiene()
        return {"wall_s": wall, "cpu_s": cpu, "query_s": times}

    def stop(self) -> None:
        """Stop Spark, end the JVM and wait for every process it started."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        tree = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        deadline = time.time() + 30
        for pid in tree:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.1)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        self.spark = None


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(EXPECTED) as f:
        spec = json.load(f)
    cores = pin_environment()
    t_data = time.time()
    sf_dir = ensure_data(spec)
    data_s = time.time() - t_data

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        tracer.install()
    bench = Bench(args.workload, args.seed, sf_dir, spec["queries"], tracer)
    try:
        bench.setup()
        setup_s = process_age_s() - data_s
        cold = bench.run_pass(0, collect=True)
        if args.trace:
            # untraced passes on both sides of the traced one, so warm-up
            # still settling does not read as tracing overhead
            untraced = [bench.run_pass(1)]
            ledger = layers.Ledger(bench.spark, tracer, cores)
            traced = bench.run_pass(2, traced=True, ledger=ledger)
            untraced.append(bench.run_pass(3))
            metrics = ledger.metrics(traced["wall_s"], statistics.median([p["wall_s"] for p in untraced]))
            print(ledger.table())
            ledger.write(os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json"))
        else:
            warm = []
            while len(warm) < MIN_WARM_PASSES or sum(p["wall_s"] for p in warm) < args.seconds:
                warm.append(bench.run_pass(1 + len(warm)))
            rss = peak_rss_mb(bench.jvm_pid()) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            walls = [p["wall_s"] for p in warm]
            query_s = [t for p in warm for t in p["query_s"].values()]
            metrics = {
                "wall_s": (statistics.median(walls), "s"),
                "cpu_s": (statistics.median([p["cpu_s"] for p in warm]), "s"),
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (rss, "MB"),
            }
            print(f"workload {args.workload} seed {args.seed} cores {cores} sf_dir {sf_dir}")
            print(f"  setup_s {setup_s:.3f}  cold_wall_s {cold['wall_s']:.3f}")
            print(f"  wall_s per warm pass {stats.summarize(walls)}")
            print(f"  query_s per warm execution {stats.summarize(query_s)}")
            for name in WORKLOADS[args.workload]:
                warm_s = [round(p["query_s"][name], 3) for p in warm]
                print(f"    {name}: cold {cold['query_s'][name]:.3f} warm {warm_s}")
    finally:
        bench.stop()
    attempted = len(bench.outcomes)
    failed = attempted - sum(bench.outcomes)
    print(f"  failed_frac {stats.failed_frac(bench.outcomes):.4f} ({failed}/{attempted})")
    for err in bench.errors:
        print("  FAILED", err.replace("\n", "\n    "))
    bad = [k for k in metrics if not stats.valid_metric_name(k)]
    if bad:
        raise ValueError(f"invalid metric names: {bad}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
