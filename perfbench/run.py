"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Generates (or reuses) the seeded inputs
and their reference outputs, runs the workload in a fresh worker process
whose working directory, SPARK_LOCAL_DIRS and TMPDIR sit under
``.perfbench/`` in the checkout, and prints one JSON object as its last
line: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
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
WORK = os.path.join(ROOT, ".perfbench")

DRIVER_MEMORY_GB = 1          # pre-touched JVM heap (tuplex.driverMemory)
# One task thread (tuplex.executorCount), and a JVM that sizes its JIT
# and GC thread pools for two CPUs: the task thread, the Python workers
# it feeds, the JIT, GC and the Python driver then fit the host's cores.
# With four task threads the busy threads and processes (one Python
# worker per Python plan node per task) outnumber four cores and job
# times follow the scheduler: on one 4-core host within half an hour,
# the cold Zillow job took 18-26 s at local[4] and 15-17 s at local[1].
EXECUTORS = 1
JVM_CPUS = 2
HEADROOM_GB = 2               # JVM off-heap + Python driver and workers
DEADLINE_S = 170              # whole run, inputs included
TEARDOWN_S = 20               # session stop and process reaping

WORKLOADS = ["zillow_dirty", "flights_corpus"]


def fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def available_gb() -> float:
    """MemAvailable, capped by the cgroup's remaining limit if any."""
    with open("/proc/meminfo") as f:
        info = {ln.split(":")[0]: int(ln.split()[1]) for ln in f}
    avail = info["MemAvailable"] * 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        with open("/sys/fs/cgroup/memory.current") as f:
            used = int(f.read())
        if limit != "max":
            avail = min(avail, int(limit) - used)
    except OSError:
        pass
    return avail / 2**30


def preflight() -> str | None:
    if not os.path.isfile(os.path.join(ROOT, "tuplex_spark", "__init__.py")):
        return (f"no tuplex_spark package next to {HERE}; run from the root "
                "of a full checkout")
    if shutil.which("java") is None:
        return "java is not on PATH"
    try:
        import pyspark  # noqa: F401
        import duckdb  # noqa: F401
        import pyarrow  # noqa: F401
    except ImportError as e:
        return f"missing Python package: {e.name}"
    need = DRIVER_MEMORY_GB + HEADROOM_GB
    have = available_gb()
    if have < need:
        return (f"{have:.1f} GiB of memory available, but the session "
                f"pre-touches a {DRIVER_MEMORY_GB} GiB heap and needs "
                f"{need} GiB in all; free memory and retry")
    return None


def prepare(workload: str, seed: int) -> str:
    """Inputs and reference for (workload, seed, sizes), cached under
    .perfbench/data; built in a temporary directory and renamed into
    place, so an interrupted run never leaves a half-written cache."""
    key = hashlib.sha1(json.dumps(_sizes(workload), sort_keys=True)
                       .encode()).hexdigest()[:10]
    d = os.path.join(WORK, "data", f"{workload}-{seed}-{key}")
    if os.path.isfile(os.path.join(d, "reference.json")):
        return d
    tmp = f"{d}.tmp{os.getpid()}"
    os.makedirs(tmp)
    from workloads import WORKLOADS as SPECS
    SPECS[workload].prepare(seed, tmp)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


# ------------------------------------------------------------ processes
def _become_subreaper() -> None:
    """Orphaned descendants (the JVM, Python daemons) re-parent to this
    process, so it can stop and reap every process a run starts."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1,
                                            0, 0, 0)


def _children() -> list[int]:
    kids = []
    for tid in os.listdir("/proc/self/task"):
        try:
            with open(f"/proc/self/task/{tid}/children") as f:
                kids.extend(int(p) for p in f.read().split())
        except OSError:
            pass
    return kids


def _descendants() -> list[int]:
    out, todo = [], _children()
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            with open(f"/proc/{pid}/task/{pid}/children") as f:
                todo.extend(int(p) for p in f.read().split())
        except OSError:
            pass
    return out


def reap_all(grace: float = 10.0) -> None:
    """Stop every remaining descendant and wait until each has ended."""
    t_end = time.monotonic() + grace
    sig = signal.SIGTERM
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        alive = _descendants()
        if not alive:
            return
        if time.monotonic() > t_end:
            sig = signal.SIGKILL
        for pid in alive:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def spawn(args: list[str], run_dir: str, env: dict, log, timeout: float,
          out: str) -> dict | None:
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"),
                             *args, "--out", out],
                            cwd=run_dir, env=env, stdout=log, stderr=log)
    try:
        proc.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker timed out after {timeout:.0f}s",
              file=sys.stderr)
    reap_all()
    if proc.returncode != 0 or not os.path.isfile(out):
        return None
    with open(out) as f:
        return json.load(f)


def worker_env(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH")
                            else [])),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # JVM scratch, crash logs and perf-data files stay in the run dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} "
                             f"-XX:ErrorFile={run_dir}/hs_err_pid%p.log "
                             "-XX:-UsePerfData "
                             f"-XX:ActiveProcessorCount={JVM_CPUS}",
        "PERFBENCH_DRIVER_MEMORY": f"{DRIVER_MEMORY_GB}g",
        "PERFBENCH_EXECUTORS": str(EXECUTORS),
    })
    return env


def cpu_ticks() -> list[int]:
    """The aggregate line of /proc/stat: user, nice, system, idle, iowait,
    irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_frac(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    readings: a slow run with a high share was slowed by the host."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(sum(d[:8]), 1)


# ------------------------------------------------------------ metrics
def end_to_end(res: dict) -> dict:
    reps = res["reps"]
    warm = [r for r in reps[1:] if "job_s" in r]
    job = statistics.median(r["job_s"] for r in warm)
    return {
        "setup_s": (res["setup_s"], "s"),
        "cold_job_s": (reps[0]["job_s"], "s"),
        "rows_per_s": (res["rows"] / job, "1/s"),
        "plan_s": (statistics.median(r["plan_s"] for r in warm), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def per_layer(res: dict) -> dict:
    """Median over the traced warm reps; compile time from the cold rep,
    where it is paid.  A run cut short by its time limit falls back to
    the cold rep."""
    reps = res["reps"]
    cold = reps[0]["layer"]
    warm = [r for r in reps[1:] if r.get("layer")] or [reps[0]]
    plain = [r["job_s"] for r in reps[1:]
             if not r.get("layer") and "job_s" in r]
    out = {name: statistics.median(r["layer"][name] for r in warm)
           for name in cold}
    out["compiler.compile_warm_s"] = out.pop("compiler.compile_s")
    out["compiler.compile_s"] = cold["compiler.compile_s"]
    out["context.session_s"] = res["setup_s"]
    out["fallback.worker_peak_rss_mb"] = res["python_worker_peak_mb"]
    traced = statistics.median(r["job_s"] for r in warm)
    out["trace.overhead_frac"] = \
        traced / statistics.median(plain) - 1 if plain else 0.0
    return {k: (v, layer_unit(k)) for k, v in out.items()}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_frac", "_skew")):
        return "ratio"
    if name.endswith("_chars"):
        return "chars"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    sys.path[:0] = [ROOT, HERE]

    problem = preflight()
    if problem:
        return fail(problem)
    _become_subreaper()
    data = prepare(args.workload, args.seed)

    run_dir = os.path.join(WORK, "run",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, os.path.basename(run_dir) + ".log")
    env = worker_env(run_dir)
    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    spans = os.path.join(traces, os.path.basename(run_dir) + ".json")
    steal0 = cpu_ticks()
    try:
        with open(log_path, "w") as log:
            left = DEADLINE_S - (time.monotonic() - t_start)
            res = spawn(["--workload", args.workload, "--data", data,
                         "--seconds", str(args.seconds),
                         "--trace", str(args.trace), "--spans", spans,
                         "--budget", str(left - TEARDOWN_S)],
                        run_dir, env, log, left,
                        os.path.join(run_dir, "result.json"))
            if res is None:
                return fail(f"worker failed; see {log_path}", 1)
    finally:
        reap_all()
        shutil.rmtree(run_dir, ignore_errors=True)

    steal1 = cpu_ticks()
    reps = res["reps"]
    failed = sum(1 for r in reps if not r["ok"])
    metrics = per_layer(res) if args.trace else end_to_end(res)
    print(f"workload={args.workload} seed={args.seed} "
          f"sizes={json.dumps(_sizes(args.workload))} "
          f"executorCount={EXECUTORS} jvmCpus={JVM_CPUS} "
          f"driverMemory={DRIVER_MEMORY_GB}g reps={len(reps)} "
          f"host_steal_frac={steal_frac(steal0, steal1):.3f} "
          f"job_s={[round(r.get('job_s', -1), 3) for r in reps]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(reps),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


def _sizes(workload: str) -> dict:
    from workloads import SIZES, WORKLOADS as SPECS
    spec = SPECS[workload]
    return {p.name: SIZES[p.name] for p in getattr(spec, "parts", [spec])}


if __name__ == "__main__":
    sys.exit(main())
