"""blink_spark benchmark: one run of one workload, printed as one JSON line.

Usage, from any directory:

    python3 perfbench/run.py --workload er_curate --seed 1 --seconds 1 --trace 0

Workloads (see README.md beside this file): ``er_curate``,
``stream_ingest``. With ``--trace 0`` the result holds
the end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1`` the
per-layer ones.

This process does no Spark work itself. It runs the host calibration
probe (``bench.calibrate_host``), starts ``worker.py`` as a fresh driver
process with the repository on every Python worker's ``PYTHONPATH`` and
all temporary files inside ``.perfbench_work/`` of the checkout, samples
the resident memory (PSS) of that process tree (driver, JVM, Python workers)
until it exits, runs the probe again, and prints a table followed by the
result line. It exits non-zero, printing no result, if the run fails or
any number is missing.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("er_curate", "stream_ingest")
# the run as a whole must end within 180 s; leave room for the probes
CHILD_TIMEOUT_S = 165.0
MEM_SAMPLE_S = 0.25
CLK_TCK = os.sysconf("SC_CLK_TCK")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks that stop the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    if not os.path.isfile(os.path.join(ROOT, "blink_spark", "pipeline.py")) or not os.path.isfile(
        os.path.join(ROOT, "bench.py")
    ):
        print(f"perfbench: no blink_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from bench import calibrate_host

    spec = load_spec()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    result_path = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        calib_before = calibrate_host()["calib_sec"]
        rc, peak_mb = run_worker(args, work, result_path)
        calib_after = calibrate_host()["calib_sec"]
        if rc != 0 or not os.path.isfile(result_path):
            print(f"perfbench: worker exited with {rc}", file=sys.stderr)
            return 1
        with open(result_path, encoding="utf-8") as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    if args.trace:
        metrics["host.calib_before_s"] = calib_before
        metrics["host.calib_after_s"] = calib_after
        wanted = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        metrics["peak_rss_mb"] = peak_mb
        wanted = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    missing = [k for k in wanted if not _finite(metrics.get(k))]
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    res.update(calib_before_s=calib_before, calib_after_s=calib_after)
    if args.trace:
        res["plain_wall_s"] = plain_wall_s(res)
    save_result(res)
    print_table(res, wanted)
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in wanted.items()},
    }))
    return 0


def load_spec() -> dict:
    """Metric names and units come from BENCHMARK.json at the checkout root."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _finite(v) -> bool:
    return isinstance(v, (int, float)) and math.isfinite(v)


def worker_env(work: str) -> dict[str, str]:
    """Repository on every Python worker's path; every temporary file,
    the JVMs' included, inside the run's work dir."""
    tmp = os.path.join(work, "tmp")
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_GRAFT_CPUS", "PYSPARK_GATEWAY_PORT")}
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    return env


def run_worker(args, work: str, result_path: str) -> tuple[int, float]:
    """Run worker.py to completion; returns its exit code and the peak
    resident memory (MB, PSS) of its session."""
    os.makedirs(WORK_ROOT, exist_ok=True)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--ledger", os.path.join(WORK_ROOT, "checksums.json"),
        "--launched", repr(time.time()), "--result", result_path,
    ]
    proc = subprocess.Popen(
        cmd, cwd=work, env=worker_env(work), start_new_session=True,
        stdout=sys.stderr,  # keep stdout for the table and the result line
    )
    peak = 0
    deadline = time.monotonic() + CHILD_TIMEOUT_S
    patience = 0.0  # on timeout or interrupt, terminate at once
    try:
        while proc.poll() is None:
            peak = max(peak, session_pss_bytes(proc.pid))
            if time.monotonic() > deadline:
                print("perfbench: worker timed out", file=sys.stderr)
                return 1, 0.0
            time.sleep(MEM_SAMPLE_S)
        patience = 10.0
    finally:
        stop_session(proc, patience)
    return proc.returncode, peak / 2**20


def _session_pids(sid: int, min_age_s: float = 0.0) -> list[int]:
    """Processes in session ``sid`` at least ``min_age_s`` old. The
    session, not the process group: pyspark's worker daemon moves into a
    process group of its own."""
    now_ticks = _uptime_s() * CLK_TCK
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        # fields[3] is the session id, fields[19] the start time in ticks
        if int(fields[3]) == sid and now_ticks - int(fields[19]) >= min_age_s * CLK_TCK:
            pids.append(int(entry))
    return pids


def _uptime_s() -> float:
    with open("/proc/uptime", encoding="ascii") as fh:
        return float(fh.read().split()[0])


def session_pss_bytes(sid: int) -> int:
    """Resident memory of session ``sid``, each shared page split among
    the processes sharing it (PSS): the Python workers are forks of one
    daemon, and a plain RSS sum counts their shared pages once per fork.
    Processes younger than a second are left out: a child the JVM spawns
    shares the JVM's memory until it execs, and would count it twice."""
    total = 0
    for pid in _session_pids(sid, min_age_s=1.0):
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                total += next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            continue  # exited while reading
    return total


def stop_session(proc: subprocess.Popen, patience: float) -> None:
    """Wait up to ``patience`` s for the worker's session to end (the JVM
    and Python workers exit with the driver), then terminate what is left
    of it, and wait until every process in it has ended."""
    for sig, wait_s in ((None, patience), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        for pid in _session_pids(proc.pid) if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait_s
        while True:
            proc.poll()  # reap the worker itself
            if not _session_pids(proc.pid):
                proc.wait()
                return
            if time.monotonic() > end:
                break
            time.sleep(0.05)
    proc.wait()


def plain_wall_s(res: dict) -> float | None:
    """Median wall of the plain runs of the same workload and input size
    saved in this checkout, the base of the tracing overhead; None if
    there are none yet."""
    d = os.path.join(WORK_ROOT, "results")
    walls = []
    for name in os.listdir(d) if os.path.isdir(d) else ():
        with open(os.path.join(d, name), encoding="utf-8") as fh:
            r = json.load(fh)
        if (r["workload"], r["trace"], r["params"]) == (res["workload"], 0, res["params"]):
            walls.append(r["diagnostics"]["wall_s"])
    return statistics.median(walls) if walls else None


def save_result(res: dict) -> None:
    d = os.path.join(WORK_ROOT, "results")
    os.makedirs(d, exist_ok=True)
    name = f"{res['workload']}-seed{res['seed']}-trace{res['trace']}.json"
    with open(os.path.join(d, name), "w", encoding="utf-8") as fh:
        json.dump(res, fh, indent=1)


def print_table(res: dict, wanted: dict[str, str]) -> None:
    m = res["metrics"]
    ok = sum(1 for p in res["passes"] if not p["errors"])
    print(f"perfbench {res['workload']} seed={res['seed']} trace={res['trace']} "
          f"items={res['items']} passes={ok}/{len(res['passes'])} ok "
          f"correct={res['correct']} checksum={res['checksum']}")
    print(f"  calib_before_s={res['calib_before_s']} calib_after_s={res['calib_after_s']}")
    for p in res["passes"]:
        for e in p["errors"]:
            print(f"  FAILED {p['kind']}: {e.strip().splitlines()[-1]}")
    if res.get("ledger_error"):
        print(f"  FAILED ledger: {res['ledger_error']}")
    if not res["trace"]:
        for k, u in wanted.items():
            print(f"  {k:<16} {m[k]:>14.6g} {u}")
        print("  wall clock and JIT (not scored): " + " ".join(
            f"{k}={v:.4g}" for k, v in res["diagnostics"].items()))
        return
    from worker import LAYER_TAGS, TAG_FIELDS

    print(f"  {'tag':<24}" + "".join(f"{f:>12}" for f in TAG_FIELDS))
    for t in LAYER_TAGS:
        if m[f"{t}.task_s"] or m[f"{t}.wall_s"]:
            print(f"  {t:<24}" + "".join(f"{m[f'{t}.{f}']:>12.4g}" for f in TAG_FIELDS))
    tag_metrics = {f"{t}.{f}" for t in LAYER_TAGS for f in TAG_FIELDS}
    for k, v in m.items():  # all counts, also those of workloads not in BENCHMARK.json
        if k not in tag_metrics and v:
            print(f"  {k:<34} {v:>14.6g} {wanted.get(k, '')}")
    traced, plain = m["trace.traced_wall_s"], res["plain_wall_s"]
    overhead = (f"{traced / plain - 1.0:+.4f} of the median plain pass of this checkout's "
                f"trace-0 runs ({traced:.3f} s traced vs {plain:.3f} s plain)" if plain else
                "unknown until this checkout holds a trace-0 run of the workload")
    print(f"  uncovered share of the traced pass: {m['trace.uncovered_share']:.4f}; "
          f"tracing overhead: {overhead}")


if __name__ == "__main__":
    raise SystemExit(main())
