"""Crawl-rank benchmark: one command, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload crawl_pages --seed 1 --seconds 12 --trace 0

runs one workload (or, with ``--workload all``, the three in turn) on
``local[nproc]`` from the root of a checkout of the repository:

1. generates the inputs from ``--seed`` (cached by seed and size, timed but
   not part of any metric);
2. sets the session up SETUPS times -- ``session.get_spark`` plus one
   warm-up run of the workload -- and reports the median as ``setup_s``.
   The first set-up starts the JVM; the others stop the SparkContext and
   start a fresh one in that JVM, so the warm-ups of all of them go to
   warming the JIT (see "JVM options" in README.md);
3. runs the workload back to back (closed loop, one client) for
   ``--seconds`` and at least MIN_RUNS times, checks every output against
   an independent reference outside the timed window, and clears the cache
   and runs a JVM GC between runs;
4. with ``--trace 1`` alternates untraced and traced runs and reports the
   per-layer metrics of the traced runs (see README.md).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. Everything the run writes stays under
``.bench_build/perfbench`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"

#: session set-ups per run; setup_s is their median
SETUPS = 3
#: measured runs per invocation, whatever --seconds allows: the median
#: of three ignores a slow first run, which is still warming the JIT
MIN_RUNS = 3
#: driver heap for the benchmark's session (the engine default is 8g)
DRIVER_MEM = "2g"
#: driver JVM options of every workload. The serial collector sizes the
#: heap from what the run allocates, where G1 also sizes it from its pause
#: times, so peak_rss_mb moved with CPU speed: over five near-dup seeds the
#: per-run peak was 1170-1320 MB under G1 and 683-690 MB under serial.
JVM_OPTIONS = "-XX:+UseSerialGC"


def _confine(work: Path) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` -- must run before pyspark is imported."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
    # every JVM (the spark-submit launcher too): temp files under ``tmp``,
    # and no hsperfdata file, which the JVM always writes to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _submit_args(work: Path, driver_java_options: str) -> None:
    """spark-submit arguments of the next JVM the session starts (set
    before each workload's first session): the warehouse under ``work``,
    and ``driver_java_options`` for the driver."""
    conf = [f"spark.sql.warehouse.dir={work / 'warehouse'}", "spark.ui.showConsoleProgress=false",
            f"spark.driver.extraJavaOptions={driver_java_options}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [arg for c in conf for arg in ("--conf", shlex.quote(c))] + ["pyspark-shell"]
    )


# -- provenance --------------------------------------------------------------


def _boot_id() -> str:
    try:
        return Path("/proc/sys/kernel/random/boot_id").read_text().strip()
    except OSError:
        return "unknown"


def _spark_jvms() -> set[int]:
    """PIDs of live Spark JVMs on the machine: processes named java whose
    command line mentions spark."""
    try:
        out = subprocess.run(["pgrep", "-a", "java"], capture_output=True, text=True, timeout=10).stdout
    except (OSError, subprocess.SubprocessError):
        return set()
    return {int(line.split()[0]) for line in out.splitlines() if "spark" in line.lower()}


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from /proc/stat:
    steal is time the hypervisor ran other guests on our CPUs."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
    return fields[7], sum(fields)


def _reset_peak_rss(pid: int) -> bool:
    """Restart the kernel's peak-RSS count of ``pid``; False where the
    kernel does not let us (the peak then covers the whole process)."""
    try:
        Path(f"/proc/{pid}/clear_refs").write_text("5")
    except OSError:
        return False
    return True


def _peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid``, read from /proc."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# -- session -----------------------------------------------------------------


def _start(cpus: int):
    from giranking_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _settle(spark) -> None:
    """Release cached blocks and let the ContextCleaner see dead ones."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _shutdown(spark) -> None:
    """Stop the context and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- one run -----------------------------------------------------------------


class Runner:
    """Runs one workload on one session and keeps every sample."""

    def __init__(self, wl, inp: dict, out: Path):
        self.wl, self.inp, self.out = wl, inp, out
        #: the Spark JVM, and its peak RSS over each measured untraced run
        self.jvm_pid = 0
        self.rss_mb: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        #: (tracer, wall) of every traced run
        self.traced: list = []

    def once(self, spark, tracer=None) -> float | None:
        """One timed run of the pipeline, then its output check. Returns the
        wall time, or None when the run raised or its output was wrong."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            self.handles = self.wl.run(spark, self.inp, self.out, tracer) or {}
            wall = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
            self.failed += 1
            self.failures.append(f"run {self.attempted} raised:\n{traceback.format_exc()}")
            return None
        fails = self.wl.check(self.inp, self.out)
        if fails:
            self.failed += 1
            self.failures.extend(f"run {self.attempted}: {f}" for f in fails)
            return None
        return wall

    def scan_check(self, spark) -> None:
        """Checks of the workload's input scan, once per invocation and
        outside any timed window."""
        fails = self.wl.scan_check(spark, self.inp)
        if fails is not None:
            self.attempted += 1
            self.failed += bool(fails)
            self.failures.extend(fails)


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def _measure(runner: Runner, spark, seconds: float, trace: bool) -> tuple[list[float], list[float]]:
    """Back-to-back runs for ``seconds``, at least MIN_RUNS of each kind.
    With ``trace`` every other run is traced, so traced and untraced runs
    see the same JVM warmth and their difference is the tracing cost.
    Returns the wall times of the untraced and of the traced runs."""
    from jobtrace import Tracer

    walls: dict[bool, list[float]] = {False: [], True: []}
    t_end = time.perf_counter() + seconds
    i = 0
    while (
        len(walls[False]) < MIN_RUNS
        or (trace and len(walls[True]) < MIN_RUNS)
        or time.perf_counter() < t_end
    ):
        if i >= 4 * MIN_RUNS and not (walls[False] or walls[True]):
            break  # every run fails: stop retrying
        traced = trace and i % 2 == 1
        i += 1
        tracer = Tracer(spark, i) if traced else None
        reset = _reset_peak_rss(runner.jvm_pid)
        wall = runner.once(spark, tracer)
        if reset and not traced:
            runner.rss_mb.append(_peak_rss_mb(runner.jvm_pid))
        if tracer is not None:
            import layers

            layers.after_run(spark, tracer, runner.handles, runner.wl, runner.inp)
            runner.traced.append((tracer, wall))
        _settle(spark)
        if wall is not None:
            walls[traced].append(wall)
    return walls[False], walls[True]


def run_workload(name: str, seed: int, seconds: float, trace: bool, size: str) -> dict:
    import workloads

    cpus = len(os.sched_getaffinity(0))
    wl = workloads.WORKLOADS[name](size, WORK / "inputs")
    out = WORK / "out" / name
    out.mkdir(parents=True, exist_ok=True)
    stamp = {"workload": name, "seed": seed, "size": size, "nproc": cpus,
             "boot_id": _boot_id(), "run_id": str(uuid.uuid4())}
    stamp["java_options"] = f"{JVM_OPTIONS} {wl.java_options}".strip()
    _submit_args(WORK, stamp["java_options"])
    foreign = _spark_jvms()
    ticks0 = _cpu_ticks()
    inp = wl.prepare(seed)
    runner = Runner(wl, inp, out)
    res = {"stamp": stamp, "checks": wl.checks,
           "inputs": {k: inp[k] for k in ("input_rows", "gen_s", "ref_s", "cached")}}

    setups, warmups, spark = [], [], None
    try:
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = _start(cpus)
            if i == 0:
                res["jvm_start_s"] = time.perf_counter() - t0
                own_jvm = runner.jvm_pid = spark.sparkContext._gateway.proc.pid
            t1 = time.perf_counter()
            runner.once(spark)
            warmups.append(time.perf_counter() - t1)
            setups.append(time.perf_counter() - t0)
            _settle(spark)
        res.update(setups=setups, warmups=warmups)
        runner.scan_check(spark)
        foreign |= _spark_jvms() - {own_jvm}

        walls, traced = _measure(runner, spark, seconds, trace)
        if trace:
            import layers
            from jobtrace import Tracer

            probe = Tracer(spark, 0)
            if wl.url_probe is not None:
                with probe.span("functions.urls"):
                    wl.url_probe(spark, inp)
            res["layers"], res["modules"] = layers.per_layer(
                name, runner.traced, probe, cpus, inp, walls=walls, traced_walls=traced,
                warmups=warmups, jvm_start_s=res["jvm_start_s"])
            res["spans"] = [s for t, _ in runner.traced for s in t.spans]
        foreign |= _spark_jvms() - {own_jvm}
        # peak RSS of one measured run, median over runs; where the kernel
        # will not reset the high-water mark, the peak of the whole process
        res["peak_rss_mb"] = statistics.median(runner.rss_mb) if runner.rss_mb else _peak_rss_mb(own_jvm)
        res["rss_window"] = "one measured run, median over runs" if runner.rss_mb else "whole process"
    finally:
        if spark is not None:
            _shutdown(spark)

    stamp["contended"] = bool(foreign)
    ticks1 = _cpu_ticks()
    stamp["cpu_steal"] = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
    res.update(walls=walls, attempted=runner.attempted, failed=runner.failed,
               failures=runner.failures, notes=wl.notes())
    return res


# -- report ------------------------------------------------------------------


def end_to_end(res: dict) -> dict:
    # no successful run (the result then reads correct: false): report 0
    run_s = statistics.median(res["walls"]) if res["walls"] else 0.0
    return {
        "setup_s": (statistics.median(res["setups"]), "s"),
        "run_s": (run_s, "s"),
        "input_rows_per_s": (res["inputs"]["input_rows"] / run_s if run_s else 0.0, "rows/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def report(res: dict, trace: bool) -> dict:
    """Print the human-readable report; return the metrics object."""
    st, inp, walls = res["stamp"], res["inputs"], res["walls"]
    p = lambda *a: print("#", *a)  # noqa: E731
    p(f"{st['workload']} seed={st['seed']} size={st['size']} nproc={st['nproc']} "
      f"boot_id={st['boot_id']} contended={str(st['contended']).lower()} "
      f"cpu_steal={st['cpu_steal']:.1%} run_id={st['run_id']}")
    p(f"driver JVM options: {st['java_options']}")
    p(f"input: {inp['input_rows']} rows; generated in {inp['gen_s']:.2f} s, reference in "
      f"{inp['ref_s']:.2f} s{' (cached)' if inp['cached'] else ''}")
    p(f"set-ups: {', '.join(f'{s:.2f}' for s in res['setups'])} s "
      f"(JVM start {res['jvm_start_s']:.2f} s; warm-up runs {', '.join(f'{w:.2f}' for w in res['warmups'])} s)")
    if walls:
        q1, q2, q3 = _quartiles(walls)
        half = len(walls) // 2 or 1
        first, second = statistics.median(walls[:half]), statistics.median(walls[-half:])
        p(f"runs: {len(walls)} measured: {', '.join(f'{w:.3f}' for w in walls)} s; "
          f"quartiles {q1:.3f} / {q2:.3f} / {q3:.3f} s")
        p(f"drift: first-half median {first:.3f} s, second-half median {second:.3f} s "
          f"({(second / first - 1) * 100:+.1f}%)")
    failed = res["failed"]
    p(f"checks: {res['attempted'] - failed}/{res['attempted']} runs passed ({res['checks']})")
    for note in res["notes"]:
        p(note)
    for f in res["failures"]:
        p("FAIL", f)
    p(f"error_rate: {failed / max(res['attempted'], 1):.4f} ratio")
    e2e = end_to_end(res)
    for k, (v, u) in e2e.items():
        p(f"{k}: {v:.4f} {u}")
    p(f"(peak_rss_mb covers the {res['rss_window']})")
    if trace:
        from layers import print_layers

        print_layers(res)
        metrics = res["layers"]
        for k, (v, u) in metrics.items():
            p(f"{k}: {v:.6g} {u}")
    else:
        metrics = e2e
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="bench", help="input size: bench or smoke")
    args = ap.parse_args(argv)

    _confine(WORK)
    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        import giranking_spark  # noqa: F401 - the engine under test
    except ImportError as ex:
        print(f"perfbench: the engine is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2
    import workloads

    names = list(workloads.WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in workloads.WORKLOADS for n in names):
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    results, metrics, attempted, failed = [], {}, 0, 0
    for name in names:
        res = run_workload(name, args.seed, args.seconds, bool(args.trace), args.size)
        m = report(res, bool(args.trace))
        results.append(res)
        attempted += res["attempted"]
        failed += res["failed"]
        metrics.update(m if len(names) == 1 else {f"{name}.{k}": v for k, v in m.items()})
    (WORK / "runs").mkdir(parents=True, exist_ok=True)
    with open(WORK / "runs" / f"{results[0]['stamp']['run_id']}.json", "w") as f:
        json.dump(results, f, default=lambda o: o.__dict__ if hasattr(o, "__dict__") else str(o))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
