#!/usr/bin/env python3
"""Benchmark of the ner_spark KG pipeline on the host it runs on.

Run from the repository root:

    python3 perfbench/run.py --workload extract --seed 1 --seconds 8 --trace 0

Each run makes its input from ``--seed``, computes the expected outputs in
plain Python, starts one Spark driver at ``local[<cores>]`` and runs the
workload closed-loop (one client, one Spark job at a time): warm-up reps,
then reps until ``--seconds`` have passed. Every rep's output is checked.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the traced
program (perfbench/traced.py) and prints the per-layer metrics. The last
line of stdout is the JSON result; a ``#`` line before it gives the rep
walls, the set-up times, the input's properties and ``failed_frac``.
Metric names and units are declared in ``BENCHMARK.json``; workloads and
metrics are described in perfbench/README.md.

The command supervises: it runs the measurement in a child process in a
session of its own and, when the child ends (or overruns its deadline),
stops every process left in that session -- the Spark JVM, the
``pyspark.daemon`` and its Python workers -- and waits until each has
ended before it exits.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")  # one work dir per run, named <workload>-<seed>-<pid>
sys.path.insert(0, ROOT)

from perfbench.workloads import Extract, KgLpa, Runner, log, setup, shutdown  # noqa: E402

WORKLOADS = {"extract": Extract, "kg_lpa": KgLpa}
SETUPS = 2  # set-ups per run, the first one cold; setup_s is their median
LAST_REP_START_S = 64  # no rep starts that would end later than this into the run
CHILD_ENV = "PERFBENCH_CHILD"  # set in the measuring child process
CHILD_DEADLINE_S = 165  # the child is stopped, without a result, after this
TERM_GRACE_S = 5  # SIGTERM to SIGKILL, for processes left after the child
PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36


def declared_units() -> dict[str, dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def host_env(work: str) -> int:
    """Point Spark at this host's cores and a driver heap sized to its RAM,
    and keep every scratch file inside ``work``. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        # an eighth of RAM, 1..4 GiB, instead of session.py's 16g default
        SPARK_GRAFT_DRIVER_MEM=f"{max(1, min(4, int(mem_gib // 8)))}g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return cores


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_peak_rss_mb() -> tuple[float, dict]:
    """Sum of per-process peak RSS (VmHWM) over this process and all its
    descendants: the driver, the JVM and the Python workers. Also returns
    the sum per kind of process, in MB, and the Python worker count."""
    kids = _children()
    todo, parts = [os.getpid()], {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0, "other": 0.0}
    workers = 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{pid}/status") as f:
                kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        if pid == os.getpid():
            kind = "driver"
        elif b"pyspark.daemon" in cmd:
            kind = "python_workers"
            workers += 1
        elif b"java" in cmd.split(b"\0", 1)[0]:
            kind = "jvm"
        else:
            kind = "other"
        parts[kind] += kb / 1024.0
    return sum(parts.values()), dict(parts, worker_processes=workers)


def steal_s() -> float:
    """CPU time the hypervisor took from this machine's vCPUs, all vCPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def tail_percentile(values: list[float]):
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value), or None when fewer than 20 samples support one."""
    n = len(values)
    if n < 20:
        return None
    return 100.0 * (n - 10) / n, sorted(values)[n - 11]


def measure(workload: str, seed: int, seconds: int, work: str, cores: int) -> dict:
    t_run = time.perf_counter()
    kind = WORKLOADS[workload](seed, work, cores)
    log(f"input and expected outputs: {time.perf_counter() - t_run:.1f}s")

    setups = []
    for i in range(SETUPS):
        if i:
            spark.stop()
        spark, s, v = setup()
        setups.append(s + v)
    log(f"set-ups {[round(x, 2) for x in setups]}: {time.perf_counter() - t_run:.1f}s")

    kind.open(spark)
    warm = Runner(kind, work)
    for _ in range(kind.warmup_reps):
        warm.rep(spark, label="warm-up rep")
    runner = Runner(kind, work)
    walls: list[float] = []
    t_window, steal0 = time.perf_counter(), steal_s()
    while True:
        walls.append(runner.rep(spark)[0])
        now = time.perf_counter()
        if now - t_window >= seconds or now - t_run + walls[-1] > LAST_REP_START_S:
            break
    steal_share = (steal_s() - steal0) / ((now - t_window) * cores)
    rss, rss_parts = tree_peak_rss_mb()
    shutdown(spark)
    log(f"window {t_window - t_run:.1f}s..{now - t_run:.1f}s, shut down at {time.perf_counter() - t_run:.1f}s")

    wall_s = statistics.median(walls)
    tail = tail_percentile(walls)
    summary = {
        "workload": workload,
        "seed": seed,
        "input": kind.properties,
        "rep_walls_s": walls,
        "window_steal_share": steal_share,
        "warmup_failed": warm.failed,
        "setups_s": setups,
        "peak_rss_mb_by_process": rss_parts,
        ("turns_per_s" if workload == "extract" else "queries_per_s"): kind.items / wall_s,
        "failed_frac": runner.failed / runner.attempted,
        "wall_tail": (
            {"percentile": tail[0], "wall_s": tail[1]} if tail
            else f"not reported: {len(walls)} reps, 20 needed"
        ),
        "run_s": time.perf_counter() - t_run,
    }
    print("# " + json.dumps(summary), flush=True)
    return {
        "correct": warm.failed == 0 and runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {
            "items_per_s": kind.items / wall_s,
            "wall_s": wall_s,
            "setup_s": statistics.median(setups),
            "peak_rss_mb": rss,
        },
    }


def _prctl(option: int, arg: int) -> None:
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(option, arg, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # without it, stop_session still finds and waits for them through /proc


def _die_with_parent() -> None:
    """In the child: be killed if the supervisor dies. The JVM then sees
    EOF on its stdin and exits, and the pyspark.daemon after it."""
    _prctl(PR_SET_PDEATHSIG, signal.SIGKILL)


def _session_pids(sid: int) -> list[int]:
    """Processes of session ``sid`` that have not been reaped yet."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[3]) == sid:
            pids.append(int(d))
    return pids


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_session(sid: int) -> list[int]:
    """SIGTERM every process left in session ``sid``, SIGKILL those still
    there after TERM_GRACE_S, and wait until all have ended. Returns the
    pids that were found running."""
    found, sig, t_kill = set(), signal.SIGTERM, time.monotonic() + TERM_GRACE_S
    while True:
        _reap()
        pids = _session_pids(sid)
        if not pids:
            return sorted(found)
        if sig == signal.SIGTERM and time.monotonic() > t_kill:
            sig = signal.SIGKILL
        for pid in pids:
            if pid not in found or sig == signal.SIGKILL:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        found.update(pids)
        time.sleep(0.05)


def supervise(argv: list[str]) -> int:
    """Run the measurement in a child process in its own session; after it
    ends, stop and wait for every process left in that session."""
    # orphaned descendants (workers whose JVM has exited) are reparented
    # here, so they can be reaped
    _prctl(PR_SET_CHILD_SUBREAPER, 1)
    # SIGTERM ends the supervisor through its ``finally``, not around it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv],
        env=dict(os.environ, **{CHILD_ENV: "1"}),
        start_new_session=True,
        preexec_fn=_die_with_parent,
    )
    try:
        code = child.wait(timeout=CHILD_DEADLINE_S)
    except subprocess.TimeoutExpired:
        log(f"measurement still running after {CHILD_DEADLINE_S}s: stopped, no result")
        code = 124
    finally:
        left = stop_session(child.pid)
        child.wait()
        for work in glob.glob(os.path.join(WORK_ROOT, f"*-{child.pid}")):
            shutil.rmtree(work, ignore_errors=True)  # left by a child that was stopped
    if left:
        log(f"stopped {len(left)} process(es) left after the measurement")
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if os.environ.get(CHILD_ENV) != "1":
        return supervise(sys.argv[1:] if argv is None else list(argv))

    if not os.path.isfile(os.path.join(ROOT, "ner_spark", "pipeline.py")):
        log(f"no ner_spark package under {ROOT}: run from a full checkout")
        return 2
    units = declared_units()["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        cores = host_env(work)
        if args.trace:
            from perfbench.traced import traced

            result = traced(args.workload, args.seed, work, cores)
        else:
            result = measure(args.workload, args.seed, args.seconds, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    unknown = set(result["metrics"]) - set(units)
    missing = set(units) - set(result["metrics"])
    if unknown or missing:
        log(f"metrics not matching BENCHMARK.json: unknown {sorted(unknown)}, missing {sorted(missing)}")
        return 3
    result["metrics"] = {
        name: {"value": result["metrics"][name], "unit": unit} for name, unit in units.items()
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
