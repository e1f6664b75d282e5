#!/usr/bin/env python3
"""The repository benchmark: OWL document → committed triples and
CodeSystem export on ``local[nproc/2]``, with a per-layer traced mode.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 20 --trace 0

Run from the repository root. One process runs one workload as a closed
loop: one user operation at a time, the next starting when the previous
returns. Set-up ends with one untimed run of each operation (warm-up);
then the operations share ``--seconds`` equally, each run at least once
and their runs interleaved. Wall times are reported as medians, net of
the CPU time a shared host steals from the VM. With ``--trace 1`` the loop
runs each operation once with every layer call wrapped in a span and a
job group, the layer probes follow, and the Spark event log gives
per-layer counters. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). Everything the run writes goes under
``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OP_LIMIT_S = 60.0  # an operation running longer is cancelled and fails
# operations and probes still running this long after start are
# cancelled, so a run ends within three minutes whatever fails
RUN_DEADLINE_S = 130.0


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def reset_peak_rss() -> None:
    """Restart this (driver) process's peak-RSS count (VmHWM) from now."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process since the last reset."""
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc/self/status")


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    # user nice system idle iowait irq softirq steal
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def net_of_steal(wall_s: float, busy: int, steal: int) -> float:
    """Wall time with the share a shared host stole taken out.

    Over the window the VM's CPUs ran for ``busy`` ticks and waited,
    runnable, for ``steal`` more. Without steal the same work would have
    taken busy / (busy + steal) of the wall time: all of the stolen time
    for one busy CPU, a quarter of it for four."""
    return wall_s * busy / (busy + steal) if busy + steal else wall_s


def run_limited(sc, fn, limit_s: float) -> str | None:
    """Run ``fn``; once ``limit_s`` passes, cancel Spark jobs until it
    returns. Returns None on success, else the failure reason."""
    done = threading.Event()
    fired = threading.Event()

    def watch():
        if done.wait(limit_s):
            return
        fired.set()
        while not done.is_set():
            sc.cancelAllJobs()
            done.wait(0.5)

    watcher = threading.Thread(target=watch, daemon=True)
    watcher.start()
    reason = None
    try:
        fn()
    except Exception as exc:  # the loop must survive a failed operation
        text = f"{type(exc).__name__}: {exc}"
        if "SparkOutOfMemoryError" in text:
            reason = "SparkOutOfMemoryError"
        else:
            reason = type(exc).__name__
        reason += " | " + text.splitlines()[0][:300]
    finally:
        done.set()
        watcher.join()
    if fired.is_set():
        reason = f"timeout after {limit_s:.0f} s" + (f" ({reason})" if reason else "")
    return reason


def start_session(work: Path, trace: bool):
    from fhir_owl_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # Spark runs tasks on half the CPUs, leaving the rest to the driver,
    # the JVM's own threads (GC, JIT) and the Python workers. On a shared
    # 4-vCPU host, tasks on all four CPUs made builds and exports 20-30%
    # slower than on two, and their medians spread wider from run to run
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    spark = get_spark(app_name="perfbench", parallelism=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def median(values):
    return statistics.median(values) if values else None


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every descendant
    (the Spark JVM and its Python workers), reaped ones included. Unlike
    wall time it leaves out the time a shared host steals from the VM."""
    stat_of: dict[int, int] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                text = fh.read()
        except OSError:  # the process exited while we listed /proc
            continue
        fields = text[text.rindex(")") + 2:].split()
        # fields[1] is the parent pid; 11..14 are utime, stime, cutime, cstime
        stat_of[int(entry)] = sum(int(f) for f in fields[11:15])
        children.setdefault(int(fields[1]), []).append(int(entry))
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += stat_of.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def main(argv=None) -> int:
    args = parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # string hashing, and with it set order in the library (term
        # lists, regex alternations), is then the same in every run of a
        # seed, in the driver and in the Python workers
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    if not (ROOT / "fhir_owl_spark" / "__init__.py").is_file():
        print(f"perfbench: no fhir_owl_spark package under {ROOT}", file=sys.stderr)
        return 2
    t_setup = time.perf_counter()
    # Python workers import the library too, wherever the run starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [str(ROOT), str(HERE)]
    import workloads

    if args.workload not in workloads.SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.SPECS)}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "out"):
        (work / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # every JVM the run starts (launcher and driver) keeps its temp files
    # in the work dir and writes no hsperfdata under the system temp dir.
    # The JIT stops at its first tier. With the optimising tier too, on
    # four CPUs, a run's operations kept getting faster for most of the
    # run (exports from 1.27 s down to 0.90 s), so a median depended on
    # how many operations fitted in the run; first-tier code settles
    # within the warm-up, and set-up and builds were no slower with it
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={work / 'tmp'}",
                    "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1") if o
    )
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    try:
        result = run(args, workloads, work, t_setup)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    print(json.dumps(result))
    return 0


class OpRunner:
    """Runs one operation under its time limit, then checks its output
    outside the timed region. Keeps the attempted and failed counts."""

    def __init__(self, wl, sc, deadline: float):
        self.wl, self.sc, self.deadline = wl, sc, deadline
        self.tracer = None
        self.attempted = self.failed = 0

    def __call__(self, op: str):
        """Returns (wall s net of steal, CPU s, epoch-ms window) if the
        operation passed its check, else None."""
        self.attempted += 1
        limit = min(OP_LIMIT_S, self.deadline - time.perf_counter())
        if limit < 1:
            self.failed += 1
            print(f"perfbench: {op} failed: run deadline reached", file=sys.stderr)
            return None
        started_ms = time.time() * 1000
        t, cpu, (busy, steal) = time.perf_counter(), tree_cpu_s(), cpu_ticks()
        reason = run_limited(self.sc, getattr(self.wl, f"op_{op}"), limit)
        took, cpu = time.perf_counter() - t, tree_cpu_s() - cpu
        busy_end, steal_end = cpu_ticks()
        window = (started_ms, time.time() * 1000)
        if reason is None:
            if self.tracer:
                self.tracer.uninstall()
            reason = self.wl.check()
            if self.tracer:
                self.tracer.install()
        if reason is not None:
            self.failed += 1
            print(f"perfbench: {op} failed: {reason}", file=sys.stderr)
            return None
        return net_of_steal(took, busy_end - busy, steal_end - steal), cpu, window


def op_loop(attempt: OpRunner, ops, seconds: float, one_cycle: bool):
    """Closed loop over ``seconds``. Each operation runs once; after that
    each step runs, of the operations whose median time still fits in
    what is left, the one that has had the least of the run so far, so
    the operations share the run equally and their samples interleave
    over all of it. Returns each operation's samples: (wall s net of
    steal, CPU s, epoch-ms window) of the runs that passed their check."""
    samples: dict[str, list[tuple]] = {op: [] for op in ops}
    spent = dict.fromkeys(ops, 0.0)  # wall s of each operation, checks included
    t_end = time.perf_counter() + seconds

    def step(op):
        t = time.perf_counter()
        sample = attempt(op)
        spent[op] += time.perf_counter() - t
        if sample is not None:
            samples[op].append(sample)

    for op in ops:
        step(op)
    while not one_cycle:
        left = t_end - time.perf_counter()
        fits = [o for o, v in samples.items() if v and median([x[0] for x in v]) <= left]
        if not fits:
            break
        step(min(fits, key=spent.get))
    return samples


def run(args, workloads, work: Path, t_setup: float) -> dict:
    t0 = time.perf_counter()
    spark = start_session(work, bool(args.trace))
    session_start_s = time.perf_counter() - t0
    sc = spark.sparkContext
    tracer = None
    try:
        wl = workloads.Workload(
            spark, work, args.seed, workloads.SPECS[args.workload], traced=bool(args.trace)
        )
        t_inputs = time.perf_counter()
        wl.setup()
        attempt = OpRunner(wl, sc, t_setup + RUN_DEADLINE_S)
        t_warm = time.perf_counter()
        for op in workloads.OPS:  # warm-up: checked and counted, not timed
            attempt(op)
        setup_s = time.perf_counter() - t_setup
        print(f"perfbench: set-up {setup_s:.2f} s: session {session_start_s:.2f}, inputs "
              f"{t_warm - t_inputs:.2f}, warm-up {t_setup + setup_s - t_warm:.2f}",
              file=sys.stderr)
        if args.trace:
            from layertrace import Tracer

            tracer = attempt.tracer = Tracer(sc)
            tracer.install()
        reset_peak_rss()
        samples = op_loop(attempt, workloads.OPS, args.seconds, one_cycle=bool(args.trace))
        rss_mb = peak_rss_mb()
        for op, v in samples.items():
            print(f"perfbench: {op} samples (s): " + " ".join(f"{x[0]:.3f}" for x in v),
                  file=sys.stderr)

        def med(op, i):
            return median([x[i] for x in samples[op]])

        files, nbytes, triples = wl.output_stats() if wl.last_build else (0, 0, 0)
        metrics = {
            "setup_s": (setup_s, "s"),
            "build_s": (med("build", 0), "s"),
            "export_s": (med("export", 0), "s"),
            "driver_rss_mb": (rss_mb, "MB"),
            "output_bytes_per_triple": (nbytes / triples if triples else None, "bytes"),
            "output_files": (files, "count"),
        }
        if args.trace:
            import probes

            metrics["build_cpu_s"] = (med("build", 1), "s")
            metrics["export_cpu_s"] = (med("export", 1), "s")
            metrics = {f"traced.{k}": v for k, v in metrics.items()}
            metrics["session.start_s"] = (session_start_s, "s")
            refresh = []
            reason = run_limited(
                sc, lambda: refresh.append(probes.layer_metrics(wl, tracer, metrics)),
                max(1.0, t_setup + RUN_DEADLINE_S - time.perf_counter()),
            )
            reason = reason or refresh[0]
            attempt.attempted += 1  # the refresh operation among the probes
            if reason is not None:
                attempt.failed += 1
                print(f"perfbench: refresh or probes failed: {reason}", file=sys.stderr)
    finally:
        if tracer:
            tracer.uninstall()
        stop_session(spark)
    if args.trace:
        windows = {op: [x[2] for x in v] for op, v in samples.items()}
        metrics = probes.finish(metrics, tracer, work / "eventlog", windows)
    return {
        "correct": attempt.failed == 0,
        "attempted": attempt.attempted,
        "failed": attempt.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    raise SystemExit(main())
