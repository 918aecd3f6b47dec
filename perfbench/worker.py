"""One benchmark run inside a fresh Spark driver process.

Started by ``run.py``, which samples this process tree's memory from the
outside and brackets it with the host calibration probe. This process
starts the session and stages the workload's inputs. With ``--trace 0``
it runs timed passes for ``--seconds``, the first one in the fresh JVM;
with ``--trace 1`` it runs one traced pass instead, whose per-layer
metrics come from the spans and from Spark's event log. It writes
everything to the ``--result`` JSON file.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4
# A fixed driver heap: the default, 40% of the host's RAM, would make
# memory and GC behaviour depend on the host. It is committed up front
# with a fixed young generation, because G1 otherwise grows both on
# timing-dependent heuristics, and peak resident memory of one workload
# moved by 20% from run to run.
DRIVER_HEAP = "2g"
# A fixed number of JIT compiler threads: with the default dynamic number,
# one that exits takes its CPU time into the JVM's total, where it can no
# longer be told apart from the program's (see workloads.session_cpu_s).
DRIVER_JAVA_OPTS = f"-Xms{DRIVER_HEAP} -Xmn512m -XX:-UseDynamicNumberOfCompilerThreads"

# per-tag Spark metrics reported in a traced run; a tag the workload does
# not run reads 0
LAYER_TAGS = (
    "s0_normalized", "s1_signatures", "s1_blocks", "s2_pairs", "s2_scores",
    "s2_edges", "s3_clusters", "store", "stream", "dedup.exact", "dedup.lsh_pairs",
    "dedup.clusters", "textstats.quality", "curation.repetition",
    "curation.decontaminate",
)
TAG_FIELDS = ("wall_s", "task_s", "cpu_s", "python_s", "shuffle_mb", "spill_mb", "skew")
COUNTS = (
    "s1_blocks.band_keys", "s2_pairs.candidates", "s2_scores.pairs_per_s",
    "s2_edges.kept_ratio", "s3_clusters.iterations", "s3_clusters.clusters",
    "store.mb_written", "dedup.lsh_pairs.verified_ratio",
    "stream.add_batch_s", "stream.planning_s", "stream.commit_s",
    "stream.state_commit_s", "stream.state_update_s", "stream.state_rows",
    "stream.state_mb", "stream.fixed_share",
)


def make_workload(name: str, spark, seed: int, work: str):
    from workloads import BatchWorkload, StreamWorkload

    if name == "er_curate":
        return BatchWorkload(spark, seed, work, n_files=200, hot_family=30, excerpt_every=20)
    if name == "stream_ingest":
        return StreamWorkload(spark, seed, work, n_files=160, files_per_trigger=1)
    raise ValueError(f"unknown workload {name!r}")


class Ledger:
    """Checksums by (workload, seed, input size), kept across runs in the
    checkout so a later run of the same seed must reproduce them."""

    def __init__(self, path: str):
        self.path = path
        try:
            with open(path, encoding="utf-8") as fh:
                self.data = json.load(fh)
        except FileNotFoundError:
            self.data = {}

    def check_and_record(self, key: str, checksum: str) -> str | None:
        """Error message if ``key`` was recorded with another checksum."""
        old = self.data.get(key)
        if old is not None and old != checksum:
            return f"checksum {checksum} differs from an earlier run's {old}"
        self.data[key] = checksum
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(self.data, fh, indent=1, sort_keys=True)
        os.replace(tmp, self.path)
        return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--ledger", required=True)
    ap.add_argument("--launched", type=float, required=True, help="parent's time.time() at launch")
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    sys.path[:0] = [ROOT, HERE]

    from blink_spark.session import get_spark
    from eventlog import event_log_conf

    conf = {
        "spark.local.dir": os.path.join(args.work, "tmp"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTS,
    }
    if args.trace:
        conf.update(event_log_conf(os.path.join(args.work, "events")))
    spark = get_spark(f"perfbench.{args.workload}", cores=CORES, extra_conf=conf)
    session_s = time.time() - args.launched
    try:
        out = run(spark, args, session_s)
    finally:
        spark.stop()
    if args.trace:
        out["metrics"].update(layer_metrics(out.pop("_tracer_self_s"), args.work, out))
    with open(args.result, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1)
    return 0


def run(spark, args, session_s: float) -> dict:
    from workloads import PassResult, cpu_delta, session_cpu_s

    wl = make_workload(args.workload, spark, args.seed, args.work)
    passes_dir = os.path.join(args.work, "passes")
    counter = itertools.count()
    log: list[dict] = []
    expected: str | None = None

    def attempt(kind: str, fn) -> PassResult | None:
        """One checked pass; a failed check or an exception is a failed
        pass and contributes no number."""
        nonlocal expected
        d = os.path.join(passes_dir, f"{next(counter)}_{kind}")
        entry = {"kind": kind}
        try:
            r = fn(d)
        except Exception:  # a pass is the unit that may fail; record it and go on
            entry["errors"] = [traceback.format_exc()]
            log.append(entry)
            return None
        finally:
            shutil.rmtree(d, ignore_errors=True)
        errs = wl.check(r, expected)
        if expected is None and not errs:
            expected = r.checksum
        entry.update(wall_s=r.wall_s, cpu_s=r.cpu_s, jit_s=r.jit_s, checksum=r.checksum, f1=r.f1,
                     errors=errs)
        log.append(entry)
        return None if errs else r

    from tracing import job_group

    job_group(spark.sparkContext, "bench.setup")
    t0 = time.perf_counter()
    wl.stage_inputs()
    stage_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.load()
    load_s = time.perf_counter() - t0
    setup_cpu = cpu_delta((0.0, 0.0), session_cpu_s())

    out: dict = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "params": wl.params(), "items": wl.n_items,
        "setup": {"session_s": session_s, "stage_s": stage_s, "load_s": load_s},
        "passes": log,
    }
    # A run's first pass is the first of its JVM, as in a CLI invocation,
    # so the traced pass compares with the first plain pass of other runs.
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark, run_id=f"{args.workload}-{args.seed}")
        counts: dict[str, float] = {}

        def traced(d):
            r, c = wl.traced_pass(tracer, d)
            counts.update(c)
            out["stream_run_id"] = getattr(wl, "last_run_id", None)
            return r

        job_group(spark.sparkContext, None)
        rt = attempt("traced", traced)
        if rt is None:
            raise RuntimeError(f"the traced pass failed: {log}")
        self_s = tracer.self_seconds()
        if "s2_pairs.candidates" in counts and self_s.get("s2_scores"):
            counts["s2_scores.pairs_per_s"] = counts["s2_pairs.candidates"] / self_s["s2_scores"]
        if rt.progress:
            busy = sum(p["durationMs"]["triggerExecution"] for p in rt.progress) / 1e3
            # for a stream, the uncovered part is the time outside any
            # micro-batch
            self_s["pass"] = rt.wall_s - busy
        out["spans"] = tracer.to_json()
        out["_tracer_self_s"] = self_s
        out["metrics"] = {
            **{k: counts.get(k, 0.0) for k in COUNTS},
            "trace.traced_wall_s": rt.wall_s,
            "trace.uncovered_share": self_s.get("pass", 0.0) / rt.wall_s,
        }
    else:
        job_group(spark.sparkContext, "bench.plain")
        timed: list[PassResult] = []
        t_start = time.perf_counter()
        while not timed or time.perf_counter() - t_start < args.seconds:
            r = attempt("timed", wl.run_pass)
            if r is not None:
                timed.append(r)
            elif sum(1 for e in log if e["errors"]) >= 3:
                break
        if not timed:
            raise RuntimeError(f"no timed pass succeeded: {log}")
        out["metrics"], out["diagnostics"] = end_to_end(timed, setup_cpu, session_s + stage_s + load_s)

    failed = sum(1 for e in log if e["errors"])
    correct = failed == 0
    if expected is not None:
        key = json.dumps([args.workload, args.seed, wl.params()], sort_keys=True)
        err = Ledger(args.ledger).check_and_record(key, expected)
        if err:
            correct = False
            out["ledger_error"] = err
    out.update(correct=correct, attempted=len(log), failed=failed, checksum=expected)
    return out


def end_to_end(timed, setup_cpu: tuple[float, float], setup_wall_s: float) -> tuple[dict, dict]:
    """The end-to-end metrics, and the wall-clock figures printed beside
    them. Times are CPU times of the process tree, JIT compiler threads
    excluded: on a VM whose host steals a varying share of its CPUs, one
    run's wall time moved by a factor of 2 from one run to the next, its
    CPU time by a fifth."""
    med = statistics.median
    metrics = {
        "setup_s": setup_cpu[0],
        "cpu_s": med(r.cpu_s for r in timed),
        "pairwise_f1": med(r.f1 for r in timed),
    }
    diagnostics = {
        "setup_wall_s": setup_wall_s,
        "setup_jit_s": setup_cpu[1],
        "wall_s": med(r.wall_s for r in timed),
        "jit_s": med(r.jit_s for r in timed),
        "files_per_s": med(r.items / r.busy_s for r in timed),
        "batch_latency_s": med(r.batch_latency_s for r in timed),
    }
    return metrics, diagnostics


def layer_metrics(self_s: dict[str, float], work: str, out: dict) -> dict:
    """Per-tag span self time plus the tag's Spark metrics from the event log."""
    from eventlog import UNTAGGED, TagMetrics, find_event_log, parse_event_log

    tags = parse_event_log(find_event_log(os.path.join(work, "events")))
    if out.get("stream_run_id") in tags:
        tags["stream"] = tags.pop(out["stream_run_id"])
    out["event_log_tags"] = sorted(tags)
    m: dict[str, float] = {"trace.untagged_task_s": tags.get(UNTAGGED, TagMetrics()).task_s}
    for tag in LAYER_TAGS:
        t = tags.get(tag, TagMetrics())
        values = (self_s.get(tag, 0.0), t.task_s, t.cpu_s, t.python_s,
                  t.shuffle_write_mb, t.spill_mb, t.skew)
        m.update({f"{tag}.{f}": v for f, v in zip(TAG_FIELDS, values)})
    return m


if __name__ == "__main__":
    raise SystemExit(main())
