"""Benchmark of the E1 verify lifecycle and the spatial queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload e1_full_verify --seed 1 --seconds 10 --trace 0

One closed-loop client on ``local[<cores>]``: each operation starts when
the previous one (and its correctness check) has finished. The inputs are
built from ``--seed`` and set up three times; WARMUP_OPS checked warm-up
operations follow, then operations are timed until ``--seconds`` of
operation time and at least MIN_SAMPLES operations have passed. The Spark
cache is cleared before every operation. Operations and setups are
measured in CPU seconds of the process tree (see ``tree_cpu_s``); wall
times go to the record.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
replays each layer call under a span and alternates untraced and traced
operations, and prints the per-layer metrics. The line before the last is
a record of the run: host cores and RAM, per-operation wall time with the
steal and sibling-busy shares of the host CPU during it, and any errors.
The last line is the result: ``{"correct", "attempted", "failed",
"metrics"}``. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPS = 3
WARMUP_OPS = 3
MIN_SAMPLES = 3
MAX_ATTEMPTS = 200


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def jvm_heap_mb(total_mb: int) -> int:
    """An eighth of the host's RAM, between 1 and 3 GiB: the inputs are a
    few hundred MB, and the host is shared."""
    return min(3072, max(1024, total_mb // 8))


def cpu_stamp(mine: set[int]) -> tuple[int, int, int, int]:
    """(total, steal, busy outside ``mine``, total outside ``mine``) jiffies
    from /proc/stat; two stamps around an operation give the hypervisor
    steal share and the busy share of the cores this process is not
    pinned to while it ran."""
    total = steal = sib_busy = sib_total = 0
    with open("/proc/stat") as f:
        for line in f:
            if not line.startswith("cpu"):
                break
            name, *parts = line.split()
            vals = [int(x) for x in parts[:8]]
            if name == "cpu":
                total, steal = sum(vals), vals[7]
            elif int(name[3:]) not in mine:
                sib_total += sum(vals)
                sib_busy += sum(vals) - vals[3] - vals[4]
    return total, steal, sib_busy, sib_total


def contention(before, after) -> dict[str, float]:
    return {
        "steal": (after[1] - before[1]) / max(after[0] - before[0], 1),
        "sibling_busy": (after[2] - before[2]) / max(after[3] - before[3], 1),
    }


def _stat_fields(path: str) -> list[str] | None:
    """The fields after the command name of a /proc stat file."""
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:  # the process or thread ended while we listed
        return None


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and all its descendants
    (the JVM, the Python workers it forks), including the children they
    have reaped, less the JVM's JIT compiler threads: those compile the
    program during warm-up rather than run it. The kernel charges
    hypervisor steal to no process, so this is the work done whatever
    the host's contention."""
    ppid, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (fields := _stat_fields(f"/proc/{entry}/stat")):
            ppid[int(entry)] = int(fields[1])
            ticks[int(entry)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p not in (root, 0, 1) and p in ppid:
            p = ppid[p]
        if p != root:
            continue
        total += t
        for tid in os.listdir(f"/proc/{pid}/task") if pid != root else ():
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        continue
            except OSError:
                continue
            if fields := _stat_fields(f"/proc/{pid}/task/{tid}/stat"):
                total -= int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Bench:
    def __init__(self, args: argparse.Namespace, work: Path, cores: list[int]) -> None:
        self.args, self.work, self.cores = args, work, cores
        self.spark = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.runs: list[dict] = []

    # -- session -----------------------------------------------------------

    def start_session(self):
        from fileverification_spark.session import get_spark

        w = self.work
        return get_spark(
            "perfbench",
            master=f"local[{len(self.cores)}]",
            extra_conf={
                "spark.local.dir": str(w / "spark-local"),
                "spark.sql.warehouse.dir": str(w / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # compiler threads stay alive, so tree_cpu_s can leave them out
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={w / 'tmp'} -XX:-UsePerfData "
                "-XX:-UseDynamicNumberOfCompilerThreads",
            },
        )

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid  # noqa: SLF001

    def close(self) -> None:
        """Stop Spark and the JVM it started, and wait for the JVM to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway  # noqa: SLF001
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # -- operations --------------------------------------------------------

    def attempt(self, wl, i: int, tracer=None) -> float | None:
        """Run and check operation ``i``; its wall time, or None if it
        raised or failed its check."""
        from workloads import reset_cache

        self.attempted += 1
        mine = set(self.cores)
        try:
            reset_cache(self.spark)
            before, cpu0 = cpu_stamp(mine), tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            out = wl.op(i, tracer)
            wall = time.perf_counter() - t0
            stamps = contention(before, cpu_stamp(mine))
            stamps["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
            wl.check(i, out)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            self.failed += 1
            self.errors.append(f"op {i}: {type(e).__name__}: {str(e)[:400]}")
            traceback.print_exc()
            return None
        self.runs.append(
            {"op": i, "pages": wl.live_pages, "traced": tracer is not None, "wall_s": wall, **stamps}
        )
        return wall

    def loop(self, wl, tracers: tuple) -> list[dict]:
        """The timed operations after the warm-ups, cycling through
        ``tracers`` (None = untraced), until ``--seconds`` of operation
        time have passed and each tracer had MIN_SAMPLES operations;
        their records."""
        done, spent, i = [0] * len(tracers), 0.0, WARMUP_OPS
        while self.attempted < MAX_ATTEMPTS and (
            spent < self.args.seconds or min(done) < MIN_SAMPLES
        ):
            k = (i - WARMUP_OPS) % len(tracers)
            wall = self.attempt(wl, i, tracers[k])
            i += 1
            if wall is not None:
                done[k] += 1
                spent += wall
        return [r for r in self.runs if r["op"] >= WARMUP_OPS]

    # -- the run -----------------------------------------------------------

    def run(self, spec: dict) -> tuple[dict, dict]:
        from spans import Tracer
        from workloads import WORKLOADS, CheckFailed

        args = self.args
        setups, setup_cpu, starts = [], [], []
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0, cpu0 = time.perf_counter(), tree_cpu_s(os.getpid())
            self.spark = self.start_session()
            starts.append(time.perf_counter() - t0)
            wl = WORKLOADS[args.workload](self.spark, str(self.work / "data"), args.seed)
            wl.setup()
            setups.append(time.perf_counter() - t0)
            setup_cpu.append(tree_cpu_s(os.getpid()) - cpu0)

        plan_ok = True
        try:
            wl.plan_check()
        except CheckFailed as e:
            plan_ok = False
            self.errors.append(f"plan: {e}")
        warm = [self.attempt(wl, i) for i in range(WARMUP_OPS)]

        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "host": {
                "cores": len(self.cores),
                "mem_total_mb": mem_total_mb(),
                "jvm_heap": os.environ["SPARK_DRIVER_MEM"],
            },
            "setup_s": setups,
            "setup_cpu_s": setup_cpu,
            "session_start_s": starts,
            "warmup_s": warm,
        }
        if args.trace:
            tracer = Tracer(self.spark)
            layers = {"session.start_s": statistics.median(starts), **wl.replay(tracer)}
            timed = self.loop(wl, (None, tracer))
            layers.update(wl.op_metrics(tracer))
            layers["jvm.peak_rss_mb"] = record["peak_rss_mb"] = vm_hwm_mb(self.jvm_pid())
            untraced, traced = (
                statistics.median([r["wall_s"] for r in timed if r["traced"] == t] or [0])
                for t in (False, True)
            )
            layers["trace.untraced_run_s_p50"] = untraced
            layers["trace.run_s_p50"] = traced
            layers["trace.overhead_s"] = traced - untraced
            wanted = spec["per_layer"]
            values = {m["name"]: layers.get(m["name"], 0) for m in wanted}
            unknown = set(layers) - set(values)
            if unknown:
                raise RuntimeError(f"per-layer figures missing from BENCHMARK.json: {unknown}")
        else:
            timed = self.loop(wl, (None,))
            if not timed:
                raise RuntimeError("no operation succeeded; see errors above")
            cpu = statistics.median(r["cpu_s"] for r in timed)
            record["run_s_p50"] = statistics.median(r["wall_s"] for r in timed)
            values = {
                "cpu_s_p50": cpu,
                "pages_per_cpu_s": wl.live_pages / cpu,
                "setup_s": statistics.median(setup_cpu),
            }
            wanted = spec["end_to_end"]
            record["peak_rss_mb"] = vm_hwm_mb(self.jvm_pid())
        if hasattr(wl, "query_s"):
            record["query_s"] = wl.query_s
        record["runs"] = self.runs
        record["ops_failed_frac"] = self.failed / max(self.attempted, 1)
        record["errors"] = self.errors
        result = {
            "correct": plan_ok and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
        }
        return record, result


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "fileverification_spark" / "__init__.py").is_file():
        print(f"perfbench: no fileverification_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cores = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cores)  # the JVM and Python workers inherit it
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["SPARK_DRIVER_MEM"] = f"{jvm_heap_mb(mem_total_mb())}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(cores))
    os.environ["TMPDIR"] = str(work / "tmp")
    sys.path.insert(0, str(ROOT))

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    bench = Bench(args, work, cores)
    try:
        record, result = bench.run(spec)
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
