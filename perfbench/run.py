"""Benchmark of the production extraction job and its neighbours.

Usage (from the repository root):

    python3 perfbench/run.py --workload extract --seed 1 --seconds 8 --trace 0

Runs one workload in one local[nproc] Spark session: builds the workload's
seeded inputs, warms the session with one untimed run, then repeats the
workload for ``--seconds`` seconds, checking every run's committed outputs
against the repository's oracles. The last line of standard output is one
JSON object: ``correct``, ``attempted`` (timed runs), ``failed`` (runs that
raised or produced a wrong output) and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` instead makes one untraced and one traced
run and reports per-layer metrics (see perfbench/README.md).

Everything the benchmark writes stays under ``.bench_work/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".bench_work"

# Untimed runs before the timed ones. A session's first run takes about 1.5
# times as long as its second; later runs are faster by only a few percent
# each (extract, one process: 19.4, 12.6, 12.1, 11.6, 10.8 s), so one
# warm-up is made and the time a run of the benchmark takes stays near a
# minute.
WARMUP_RUNS = 1


def _prepare_env() -> int:
    """Pin the session to this host's cores and keep every file the
    session writes (Spark scratch, warehouse, the render kernel's compile
    cache, temp files) inside the work directory."""
    cpus = len(os.sched_getaffinity(0))
    tmp = WORK / "tmp"
    for d in (tmp, WORK / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "SPARK_WAREHOUSE_DIR": str(WORK / "warehouse"),
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    sys.path[:0] = [str(ROOT), str(ROOT / "scripts")]
    return cpus


# --------------------------------------------------------------------------
# memory of the driver JVM and its Python workers
# --------------------------------------------------------------------------

PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (state first),
    or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is None:
            continue
        children.setdefault(int(fields[1]), []).append(int(entry))
    return children


def _descendants(root_pid: int) -> list[int]:
    children = _children_map()
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_memory_bytes(root_pid: int) -> int:
    """Resident memory of the JVM ``root_pid`` plus the proportional set
    size of its descendants (the Python workers), so pages the forked
    workers share are counted once. The JVM shares no pages with them, and
    its resident size is read from ``statm``: ``smaps_rollup`` walks every
    page table entry, which for a JVM of a few GB took ~50 ms per sample
    and kept a third of a core busy."""
    children = _children_map()
    try:
        with open(f"/proc/{root_pid}/statm") as f:
            total = int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        total = 0
    todo = list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(children.get(pid, ()))
    return total


class MemorySampler:
    """Samples the process tree's memory every ``period`` seconds."""

    def __init__(self, root_pid: int, period: float = 0.25):
        self.root_pid, self.period = root_pid, period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_memory_bytes(self.root_pid))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# --------------------------------------------------------------------------
# ending the session and every process under it
# --------------------------------------------------------------------------

def _wait_gone(procs: dict[int, str], timeout: float) -> dict[int, str]:
    """Wait up to ``timeout`` seconds for the processes ``pid -> start
    time`` to end; a zombie or a pid now held by another process counts as
    ended. Returns those still running."""
    deadline = time.monotonic() + timeout
    while True:
        alive = {}
        for pid, start in procs.items():
            fields = _stat_fields(pid)
            if fields is not None and fields[0] != "Z" and fields[19] == start:
                alive[pid] = start
        if not alive or time.monotonic() >= deadline:
            return alive
        time.sleep(0.05)


def stop_session(spark) -> None:
    """Stop the Spark session, then end its JVM and every process under it
    (the PySpark worker daemon and its workers) and wait until each has
    ended. Left alone, the JVM exits only once it reads end-of-file on its
    stdin after this process exits, so it would outlive the benchmark."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        procs = {}
        for pid in _descendants(os.getpid()):
            fields = _stat_fields(pid)
            if fields is not None:
                procs[pid] = fields[19]
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            with contextlib.suppress(OSError):
                jvm.stdin.close()
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        for sig in (signal.SIGTERM, signal.SIGKILL):
            procs = _wait_gone(procs, timeout=10)
            for pid in procs:
                with contextlib.suppress(OSError):
                    os.kill(pid, sig)
        procs = _wait_gone(procs, timeout=10)
        if procs:
            print(f"processes still running after SIGKILL: {sorted(procs)}",
                  file=sys.stderr)


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract", "downstream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def measure(wl, seconds: float) -> tuple[list[float], list[float], int]:
    """Repeat the workload while the next run is expected to end within
    ``seconds`` (at least one run) and check each run's outputs. Returns
    the run times, each completed run's share of documents that left no
    quarantine row, and the number of failed runs."""
    times, ok_shares, failed = [], [], 0
    t_end = time.perf_counter() + seconds
    while not times or time.perf_counter() + times[-1] <= t_end:
        out = wl.fresh_out()
        t0 = time.perf_counter()
        try:
            wl.job(out)
            dt = time.perf_counter() - t0
            problems = wl.check(out)
            ok_shares.append(1 - wl.failed_docs(out) / wl.n_docs)
        except Exception as exc:  # noqa: BLE001 - a failed run is counted
            dt = time.perf_counter() - t0
            problems = [f"{type(exc).__name__}: {exc}"]
        shutil.rmtree(out, ignore_errors=True)
        times.append(dt)
        if problems:
            failed += 1
            print(f"run {len(times)} FAILED: {problems}", file=sys.stderr)
    return times, ok_shares, failed


def main(argv=None) -> int:
    t_start = time.perf_counter()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    args = parse_args(argv)
    cpus = _prepare_env()
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)

    from workloads import WORKLOADS  # noqa: E402 - needs the env above
    from spans import SparkInstruments, Tracer

    from paper_layout_parser_spark.session import get_spark

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        inst = SparkInstruments(spark)
        wl = WORKLOADS[args.workload](spark, args.seed, run_dir, cpus)
        tracer = Tracer(inst) if args.trace else None
        build_s = wl.build()
        # memory is sampled in traced runs only, from the warm-up run on
        with MemorySampler(inst.jvm_pid()) if args.trace else contextlib.nullcontext() as mem:
            t0 = time.perf_counter()
            for _ in range(WARMUP_RUNS):
                wl.job(wl.fresh_out())
            warmup_s = time.perf_counter() - t0
            if args.trace:
                result = wl.traced(inst, tracer, session_s)
            else:
                times, ok_shares, failed = measure(wl, args.seconds)
        setup_s = session_s + build_s + warmup_s

        if args.trace:
            result["metrics"]["bench.peak_rss_mb"] = (mem.peak / 2 ** 20, "MB")
            for p in result["problems"]:
                print(f"FAILED: {p}", file=sys.stderr)
        else:
            job_s = statistics.median(times)
            result = {
                "attempted": len(times), "failed": failed,
                "metrics": {
                    "job_s": (job_s, "s"),
                    "docs_per_s": (wl.n_docs / job_s, "1/s"),
                    "setup_s": (setup_s, "s"),
                    "ok_doc_share": (statistics.median(ok_shares) if ok_shares else 0.0,
                                     "share"),
                },
            }
            print(f"{args.workload}: {len(times)} timed runs, job_s samples "
                  f"{[round(t, 3) for t in times]}, {wl.n_docs} docs/run, setup: "
                  f"session {session_s:.2f}s, inputs {build_s:.2f}s, "
                  f"warm-up {warmup_s:.2f}s", file=sys.stderr)
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"run wall {time.perf_counter() - t_start:.1f}s", file=sys.stderr)
    correct = result["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in result["metrics"].items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
