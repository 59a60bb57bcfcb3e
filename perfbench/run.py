"""Engine benchmark: the ``ingest`` and ``curation`` workloads.

Usage (from the repository root)::

    python3 perfbench/run.py --workload {ingest,curation} \\
        --seed N --seconds S --trace {0,1}

Each run writes its seeded inputs under ``.perfbench_work/`` (untimed),
then starts the engine in a fresh process (``engine.py``) that sets up a
``local[n]`` session, warms up on inputs the timed loop never reuses and
runs a closed loop of units for ``--seconds``. This process samples the
peak resident memory of the whole process tree (Python driver, JVM, Python
workers) until the timed loop ends, and prints one JSON line last: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The work directory is removed at exit. Exit code 2 means
the engine package is not importable from the checkout, 3 that the engine
process failed or hung.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "guidance_for_analytics_observability_on_aws_spark"
#: Cores the engine's local[n] master gets: the host's, at most four.
CORES = min(4, os.cpu_count() or 1)
#: Hard wall-clock cap of the engine process; a whole run must end in 180 s.
DEADLINE_S = 160
#: prctl(2) options (linux/prctl.h).
PR_SET_PDEATHSIG, PR_SET_CHILD_SUBREAPER = 1, 36

sys.path.insert(0, HERE)
import gen  # noqa: E402
import tracing  # noqa: E402

#: Dashboard panels, in refresh order (engine.py reads this list too).
PANELS = [
    "stage_agg_skewness", "skew_distribution", "cardinality_tiles", "top_n_skew",
    "task_percentiles", "date_histogram", "app_summary", "log_search",
]

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "records_per_s": "records/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "setup.warm_s": "s",
    "sources.log_ingest_s": "s",
    "sources.compact_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written_mb": "MB",
    "sources.compact_file_ratio": "ratio",
    "streaming.wall_s": "s",
    **tracing.STREAM_UNITS,
    "observability.build_s": "s",
    "observability.exec_s": "s",
    **{f"observability.{p}_s": "s" for p in PANELS},
    "dedup.lsh_s": "s",
    "pipeline.dup_groups_s": "s",
    "pipeline.curation_v2_s": "s",
    "dedup.candidate_precision": "ratio",
    "similarity.ivf_s": "s",
    "similarity.blas_s": "s",
    "textops.quality_s": "s",
    **tracing.SPARK_UNITS,
    "host.steal_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.reconcile_ratio": "ratio",
    "trace.units": "count",
}


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None once
    the process is gone: [0] state, [1] ppid, [3] session, [19] start time."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def session(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``, and children of this
    process. The engine starts a session of its own, which the JVM and the
    Python workers inherit even after their parent ends and they are
    re-parented (here: see ``adopt_orphans``)."""
    me, out = str(os.getpid()), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st and st[0] != "Z" and (st[3] == str(sid) or st[1] == me):
                out.append(int(d))
    return out


#: kcmp(2) syscall number by machine, and its "same address space" type.
SYS_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
KCMP_VM = 1


def shares_memory(a: int, b: int) -> bool:
    """Whether processes ``a`` and ``b`` run in one address space: a
    ``posix_spawn`` child between its clone and its exec."""
    if SYS_KCMP is None:
        return False
    return ctypes.CDLL(None, use_errno=True).syscall(SYS_KCMP, a, b, KCMP_VM, 0, 0) == 0


def rss_mb(pids: list[int]) -> float:
    """Resident memory of ``pids`` with every page counted once: the sum of
    their proportional set sizes, skipping a child that still runs in its
    parent's address space. Summed plain RSS counts the JVM twice whenever it
    spawns a short-lived helper (Hadoop's local file system runs ``chmod``
    and the like that way), and the Python workers share most of their pages
    with their daemon."""
    members = set(pids)
    total = 0
    for p in pids:
        st = _stat(p)
        if st is None or (int(st[1]) in members and shares_memory(int(st[1]), p)):
            continue
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total / 1024


def steal_s() -> float:
    """Host CPU time stolen from this VM so far, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _prctl(option: int, arg: int) -> None:
    ctypes.CDLL(None, use_errno=True).prctl(option, arg, 0, 0, 0)


def adopt_orphans() -> None:
    """Make this process the child subreaper of its tree: a descendant whose
    parent ends (the JVM after the engine, workers after their daemon) is
    re-parented here, so ``reap_all`` can wait for it."""
    _prctl(PR_SET_CHILD_SUBREAPER, 1)


def _die_with_parent() -> None:
    """In the engine, before exec: be killed if this process dies first."""
    _prctl(PR_SET_PDEATHSIG, signal.SIGKILL)


def reap_all(sid: int, grace_s: float) -> None:
    """Wait until every process of the engine's session has ended and every
    child of this process (adopted orphans too) has been reaped. The JVM
    exits by itself once the engine has closed its gateway; stragglers are
    killed after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = session(sid)
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def run_engine(args, work: str) -> tuple[dict, float]:
    """Start ``engine.py``; return its result and the tree's peak resident memory."""
    inputs, scratch, tmp = f"{work}/inputs", f"{work}/scratch", f"{work}/tmp"
    for d in (scratch, tmp):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
    })
    result_path = f"{work}/result.json"
    t0 = time.monotonic()
    adopt_orphans()
    proc = subprocess.Popen(
        [sys.executable, f"{HERE}/engine.py", "--workload", args.workload,
         "--inputs", inputs, "--scratch", scratch, "--seconds", str(args.seconds),
         "--trace", str(args.trace), "--t0", repr(t0), "--result", result_path],
        cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True, preexec_fn=_die_with_parent,
    )
    peak = 0.0
    try:
        while proc.poll() is None:
            # Memory counts from process start to the end of the timed loop;
            # the output checks after it are the benchmark's, not the engine's.
            if not os.path.exists(f"{result_path}.timed"):
                peak = max(peak, rss_mb(session(proc.pid)))
            if time.monotonic() - t0 > DEADLINE_S:
                raise TimeoutError(f"engine process exceeded {DEADLINE_S} s")
            time.sleep(0.2)
    finally:
        # A normal exit leaves the JVM to end by itself; on a timeout or a
        # signal the whole session is killed at once.
        grace = 10.0 if proc.poll() is not None else 0.0
        if grace == 0.0:
            proc.kill()
        proc.wait()
        reap_all(proc.pid, grace_s=grace)
    if proc.returncode != 0 or not os.path.exists(result_path):
        raise RuntimeError(f"engine process exited with code {proc.returncode}")
    with open(result_path) as f:
        return json.load(f), peak


def end_to_end(res: dict, peak: float) -> dict:
    units = res["units"]
    return {
        "setup_s": res["setup_s"],
        "op_p50_s": statistics.median(u["wall_s"] for u in units),
        "records_per_s": sum(u["records"] for u in units) / sum(u["wall_s"] for u in units),
        "peak_rss_mb": peak,
    }


def per_layer(res: dict, steal: float) -> dict:
    """Per-layer means over the traced units. A layer the workload never
    calls reads zero; a REST or listener layer whose read failed on every
    traced unit is absent."""
    units = res["units"]
    traced = [u["wall_s"] for u in units if u["traced"]]
    plain = [u["wall_s"] for u in units if not u["traced"]]
    read = tracing.SPARK_UNITS.keys() | tracing.STREAM_UNITS.keys()
    out = {name: 0.0 for name in PER_LAYER if name not in read}
    out.update(tracing.summarize([u["layers"] for u in units if u["layers"]]))
    out.update({
        "session.start_s": res["session_start_s"],
        "setup.warm_s": res["warm_s"],
        "host.steal_s": steal,
        "trace.overhead_ratio": statistics.median(traced) / statistics.median(plain) - 1,
        "trace.units": len(traced),
    })
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="Engine benchmark (see module docstring).")
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # On SIGTERM, unwind through the finally blocks: kill the engine's
    # process tree and remove the work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.exists(f"{ROOT}/{PACKAGE}/__init__.py"):
        print(f"perfbench: engine package {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2

    work = f"{ROOT}/.perfbench_work/{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        gen.generate(args.workload, args.seed, f"{work}/inputs")
        steal0 = steal_s()
        try:
            res, peak = run_engine(args, work)
        except (RuntimeError, TimeoutError) as exc:
            print(f"perfbench: {exc}", file=sys.stderr)
            return 3
        steal = steal_s() - steal0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass

    units = res["units"]
    failed = [u for u in units if u["error"]]
    for u in failed:
        print(f"perfbench: unit {u['n']} ({u['input']}) failed: {u['error']}", file=sys.stderr)
    if args.trace:
        values, units_of = per_layer(res, steal), PER_LAYER
    else:
        values, units_of = end_to_end(res, peak), END_TO_END
    print(json.dumps({"unit_walls_s": [u["wall_s"] for u in units],
                      "unit_traced": [u["traced"] for u in units],
                      "unit_steps_s": [u["steps"] for u in units],
                      "host_steal_s": steal}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(units),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
