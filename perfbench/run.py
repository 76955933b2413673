"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload online_waves --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It pins itself to one CPU, starts
one Spark driver on ``local[1]``, pays session start and a warm-up before
timing (reported as ``setup_s``), repeats the workload's pass until ``--seconds``
have elapsed, checks the outputs, and prints a human-readable summary
followed by one JSON line. ``--trace 1`` runs one untraced and one traced
pass instead and reports the per-layer metrics. A detailed record (run
context, every pass, the spans of a traced pass) goes to
``.perfbench_out/`` in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("online_waves", "registry_mix")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny is the self-test's size")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt the checked outputs (self-test only)")
    return ap.parse_args(argv)


# A wave or a query is mostly one driver thread handing work to JVM threads
# and back. On a shared host each hand-off to another vCPU can wait for the
# hypervisor to run that vCPU: on two CPUs the same registry pass took 11 to
# 22 s as the host's steal rose, on one CPU 12 to 14 s (see the README).
MAX_CPUS = 1

# C1 only: the run budget holds one warm-up pass, after which the C2
# compiler still spent 28-51 of the timed wave's 41-68 JVM CPU-seconds,
# an amount that varied run to run. C1 compiles settle within the warm-up.
JAVA_OPTS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1"


def pin_cpus() -> int:
    """Restrict this process, and the JVM and Python workers it starts, to
    at most MAX_CPUS of the CPUs it may use; returns their number,
    validated as a positive integer."""
    if hasattr(os, "sched_setaffinity"):
        os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:MAX_CPUS])
        n = len(os.sched_getaffinity(0))
    else:
        n = min(os.cpu_count() or 0, MAX_CPUS)
    if not isinstance(n, int) or n < 1:
        raise SystemExit(f"perfbench: cannot determine the CPU count (got {n!r})")
    return n


def host_probe_s() -> float:
    """Best of three timings of a fixed pure-Python loop: the host's
    single-thread speed, so a slow run shows whether the host was slow."""
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i
        best = min(best, time.perf_counter() - t0)
    return best


def prepare_env(work: Path, cpus: int) -> None:
    """Keep the driver, its JVM and its Python workers inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f'--driver-java-options "-Djava.io.tmpdir={tmp} {JAVA_OPTS}"',
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


class Session:
    """The library's SparkSession plus the JVM it runs in; ``close`` stops
    both and waits for the JVM process to exit."""

    def __init__(self):
        from pyspark import SparkContext

        from trx_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.start_s = time.perf_counter() - t0
        self._gateway = SparkContext._gateway
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def gc_ms(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    def jit_ms(self) -> float:
        """Milliseconds the JIT compilers have spent compiling so far."""
        mx = self.spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        return float(mx.getTotalCompilationTime())

    def codegen_compiles(self) -> int:
        """Classes Spark has generated and compiled with Janino so far."""
        cm = self.spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(cm.METRIC_COMPILATION_TIME().getCount())

    def heap_used_mb(self) -> float:
        mx = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return mx.getHeapMemoryUsage().getUsed() / 2**20

    def peak_rss_mb(self) -> float:
        """VmHWM of the JVM process."""
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM in /proc status")

    def identity(self) -> dict:
        props = self.spark._jvm.java.lang.System
        return {
            "spark": self.spark.version,
            "java.version": props.getProperty("java.version"),
            "java.vm.name": props.getProperty("java.vm.name"),
            "java.vm.version": props.getProperty("java.vm.version"),
            "master": self.spark.sparkContext.master,
        }

    def close(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gw, self._gateway = self._gateway, None
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of stdin
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def source_context() -> dict:
    """Git commit and dirty flag when the checkout is a git work tree, and
    a digest of the library's sources either way."""
    h = hashlib.sha256()
    for f in sorted((ROOT / "trx_spark").rglob("*.py")):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    ctx = {"source_sha256": h.hexdigest(), "git_commit": None, "git_dirty": None}
    if (ROOT / ".git").exists():
        def git(*a):
            return subprocess.run(["git", *a], cwd=ROOT, capture_output=True,
                                  text=True, timeout=30).stdout.strip()
        ctx["git_commit"] = git("rev-parse", "HEAD") or None
        ctx["git_dirty"] = bool(git("status", "--porcelain", "--untracked-files=no"))
    return ctx


def cpu_sample(jvm_pid: int) -> dict:
    """Machine-wide CPU seconds by state, plus this process's and the JVM's
    own CPU seconds, so a run on a loaded or overcommitted host shows it."""
    tick = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    with open(f"/proc/{jvm_pid}/stat") as fh:
        j = fh.read().rsplit(")", 1)[1].split()
    t = os.times()
    return {"busy": (f[0] + f[1] + f[2] + f[5] + f[6]) / tick, "idle": (f[3] + f[4]) / tick,
            "steal": f[7] / tick, "jvm": (int(j[11]) + int(j[12])) / tick,
            "driver": t.user + t.system}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def run_workload(args, sess: Session, work: Path, ops) -> dict:
    """Warm-up, then timed passes (or one untraced and one traced pass)."""
    import tracing
    import workloads as wl

    spark = sess.spark
    null = tracing.NullTracer()
    size = args.scale

    # warm-up, part of setup_s: the online loop's first wave(s) at the timed
    # waves' parameters; the registry slice once, each output checked
    # against the stored values
    t0 = time.perf_counter()
    if args.workload == "online_waves":
        online = wl.OnlineWaves(spark, work / "online", args.seed, size)
        online.warm_up(null, ops)

        def one_pass(tr):
            return online.wave(tr, ops, corrupt=args.corrupt)
    else:
        wl.registry_pass(spark, size, null, ops, corrupt=args.corrupt)

        def one_pass(tr):
            return wl.registry_pass(spark, size, tr, ops, image_repeats=wl.IMAGE_REPEATS,
                                    corrupt=args.corrupt)
    warmup_s = time.perf_counter() - t0

    out = {"session_s": sess.start_s, "warmup_s": warmup_s, "passes": []}
    load0, cpu0, jit0 = os.getloadavg(), cpu_sample(sess.jvm_pid), sess.jit_ms()
    if not args.trace:
        t_start = time.perf_counter()
        while True:
            out["passes"].append(one_pass(null))
            if time.perf_counter() - t_start >= args.seconds:
                break
    else:
        untraced = one_pass(null)
        tr = tracing.Tracer(spark)
        gc0, jit1, cg0 = sess.gc_ms(), sess.jit_ms(), sess.codegen_compiles()
        tr.install()
        try:
            traced = one_pass(tr)
        finally:
            tr.uninstall()
        gc_ms, jit_ms = sess.gc_ms() - gc0, sess.jit_ms() - jit1
        compiles = sess.codegen_compiles() - cg0
        totals = tr.collect_counts()
        metrics, selfs = tracing.layer_metrics(
            tr, totals, untraced_s=untraced.seconds, traced_s=traced.seconds,
            extra=traced.extra, queries=wl.REGISTRY["full"],
        )
        metrics["session.start_s"] = (sess.start_s, "s")
        metrics["setup.warmup_s"] = (warmup_s, "s")
        metrics["jvm.gc_ms"] = (gc_ms, "ms")
        metrics["jvm.jit_ms"] = (jit_ms, "ms")
        metrics["codegen.compiles"] = (compiles, "count")
        metrics["jvm.heap_used_mb"] = (sess.heap_used_mb(), "MB")
        out.update(passes=[untraced], traced_pass=traced, layer_metrics=metrics,
                   layer_self_s=selfs, trace=tr.dump())
    out["loadavg_during"] = [load0, os.getloadavg()]
    cpu1 = cpu_sample(sess.jvm_pid)
    out["cpu_s_during"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
    out["cpu_s_during"]["jit"] = (sess.jit_ms() - jit0) / 1000.0
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "trx_spark" / "__init__.py").is_file():
        print(f"perfbench: no trx_spark package in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    cpus = pin_cpus()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = ROOT / ".perfbench_work" / tag
    prepare_env(work, cpus)

    import workloads as wl

    ctx = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "scale": args.scale, "corrupt": args.corrupt,
           "cpus": cpus, "nproc": os.cpu_count(), "loadavg_start": os.getloadavg(),
           "host_probe_s_start": host_probe_s(), "java_opts": JAVA_OPTS,
           "python": sys.version.split()[0], **source_context()}
    ops = wl.Ops()
    sess = None
    try:
        sess = Session()
        ctx["jvm"] = sess.identity()
        res = run_workload(args, sess, work, ops)
        peak = sess.peak_rss_mb()
    finally:
        if sess is not None:
            sess.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run's work directory is still there
    ctx["loadavg_end"] = os.getloadavg()
    ctx["host_probe_s_end"] = host_probe_s()

    passes = res["passes"]
    if args.trace:
        full = dict(res["layer_metrics"], peak_rss_mb=(peak, "MB"), ops_failed=(ops.failed, "count"),
                    ops_attempted=(ops.attempted, "count"))
    else:
        lat = [x for p in passes for x in p.latencies]
        full = {
            "setup_s": (res["session_s"] + res["warmup_s"], "s"),
            "run_s": (median([p.seconds for p in passes]), "s"),
            "images_per_s": (median([p.images_per_s for p in passes]), "1/s"),
            "wave_latency_p50_s": (median(lat), "s"),
            "peak_rss_mb": (peak, "MB"),
            "ops_failed": (ops.failed, "count"),
            "ops_attempted": (ops.attempted, "count"),
            "passes": (len(passes), "count"),
            "latency_samples": (len(lat), "count"),
        }
    # the result line carries exactly the metrics BENCHMARK.json names
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = {m["name"]: full[m["name"]] for m in spec["per_layer" if args.trace else "end_to_end"]}
    unmeasured = [k for k, (v, _) in metrics.items() if not math.isfinite(v)]

    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace} scale={args.scale}")
    print("# context " + json.dumps(ctx, sort_keys=True))
    for name, (value, unit) in full.items():
        print(f"{name:32s} {value:>16.6g} {unit}")
    if args.trace:
        run_s = passes[0].seconds
        print(f"# layer self time against untraced run_s = {run_s:.3f} s")
        for layer, s in sorted(res["layer_self_s"].items(), key=lambda kv: -kv[1]):
            print(f"#   {layer:20s} {s:10.3f} s {100 * s / run_s:6.1f} %")
        un = res["layer_metrics"]["unattributed_s"][0]
        print(f"#   {'(unattributed)':20s} {un:10.3f} s {100 * un / run_s:6.1f} %")
    for note in ops.notes:
        print(f"# failed: {note}")

    outdir = ROOT / ".perfbench_out"
    outdir.mkdir(exist_ok=True)
    record = {
        "context": ctx,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in full.items()},
        "passes": [vars(p) for p in passes],
        "ops": {"attempted": ops.attempted, "failed": ops.failed, "notes": ops.notes},
        "setup": {"session_s": res["session_s"], "warmup_s": res["warmup_s"]},
        "loadavg_during": res["loadavg_during"],
        "cpu_s_during": res["cpu_s_during"],
    }
    if args.trace:
        record["traced_pass"] = vars(res["traced_pass"])
        record["layer_self_s"] = res["layer_self_s"]
        record["trace"] = res["trace"]
    with open(outdir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    if unmeasured:
        print(f"perfbench: no measurement for {unmeasured}: every operation failed",
              file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": ops.failed == 0 and ops.attempted > 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
