"""The benchmark's workloads, driven only through the engine's public API.

Each workload stages its inputs once per run from
``corpus.generate_files(seed=...)``, collected in one Spark job and
written as parquet, then runs passes over them:

* ``run_pass``     the product path, timed from input to complete result;
* ``traced_pass``  each layer's public function called on its own, with its
                   input materialized through ``io.scratch.spill`` and its
                   jobs tagged, so the event log attributes them per layer.

Every pass returns the outputs the checks need (a checksum of the result,
pairwise F1 against the generator's ``entity_id``). The checks run outside
the timed region.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import statistics
import time
import zlib
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blink_spark import streaming as bs
from blink_spark.corpus import generate_files
from blink_spark.eval import pairwise_metrics
from blink_spark.functions.text import stable_file_id
from blink_spark.functions.textstats import quality_score
from blink_spark.io.scratch import spill
from blink_spark.io.tables import StageStore
from blink_spark.operators.connected_components import CCStats, make_parquet_checkpointer
from blink_spark.operators.curation import decontaminate, repetition_stats
from blink_spark.operators.dedup import (
    dedup_clusters,
    exact_dup_groups,
    keep_representatives,
    minhash_lsh_dup_pairs,
)
from blink_spark.pipeline import ERConfig, ERPipeline

FILE_COLS = ["repo", "path", "commit", "lang", "content"]
# the configuration scripts/streaming_bench.py measures
STREAM_CFG = ERConfig(bands=16, rows_per_band=4, num_hashes=64, shingle_k=3)
STREAM_SCHEMA = (
    "repo string, path string, commit string, lang string, "
    "content string, event_ts timestamp"
)
STREAM_TIMEOUT_S = 120.0
# parquet files per staged input: one per core, as generate_files' own
# partitioning would write it; also the stream's backlog files
INPUT_PARTS = 4
CLK_TCK = os.sysconf("SC_CLK_TCK")
# HotSpot's compiler threads; worker.py keeps their number fixed, so none
# exits and takes its CPU time into the JVM's total unseen
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


@dataclass
class PassResult:
    wall_s: float
    items: int  # input files (docs, stream rows) the pass consumed
    busy_s: float  # the time items are divided by for files_per_s
    batch_latency_s: float
    checksum: str
    f1: float
    cpu_s: float = 0.0  # CPU time of the process tree over the pass, JIT excluded
    jit_s: float = 0.0  # CPU time of the JVM's JIT compiler threads over the pass
    errors: list[str] = field(default_factory=list)
    # stream telemetry of data-carrying batches
    progress: list[dict] = field(default_factory=list)


def cluster_checksum(clusters: DataFrame, id_col: str) -> str:
    """Label-exact digest of an (id, cluster_id) table: rows, clusters,
    and the sum of a 32-bit hash of each (id, cluster_id) pair."""
    r = clusters.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("cluster_id").alias("c"),
        F.sum(F.hash(id_col, "cluster_id").cast("long")).alias("h"),
    ).collect()[0]
    return f"{r['n']}:{r['c']}:{r['h']}"


def session_cpu_s() -> tuple[float, float]:
    """CPU seconds (user + system) used so far by this process's session
    (the driver, its JVM and the Python workers, running or reaped), and
    the part of it the JVM's JIT compiler threads used. Unlike wall time,
    neither is charged the time the host steals from a shared VM's CPUs."""
    sid = os.getsid(0)
    total = jit = 0
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            if int(fields[3]) != sid:  # fields[3] is the session id
                continue
            # fields[11:15] are utime, stime, cutime, cstime
            total += sum(int(f) for f in fields[11:15])
            tids = os.listdir(f"/proc/{entry}/task")
        except OSError:
            continue  # exited while listing
        for tid in tids:
            try:
                with open(f"/proc/{entry}/task/{tid}/stat", encoding="ascii", errors="replace") as fh:
                    raw = fh.read()
            except OSError:
                continue  # a thread that ended while listing
            if raw[raw.index("(") + 1:].startswith(JIT_THREADS):
                jit += sum(int(f) for f in raw.rsplit(")", 1)[1].split()[11:13])
    return total / CLK_TCK, jit / CLK_TCK


def cpu_delta(start: tuple[float, float], end: tuple[float, float]) -> tuple[float, float]:
    """(CPU time without the JIT compiler threads, their CPU time) between
    two :func:`session_cpu_s` readings."""
    jit = end[1] - start[1]
    return end[0] - start[0] - jit, jit


def write_parts(pdf: pd.DataFrame, path: str, part_of: pd.Series | None = None) -> list[str]:
    """Write ``pdf`` as ``INPUT_PARTS`` parquet files, in contiguous row
    ranges or by ``part_of`` (a part number per row); returns the paths."""
    if part_of is None:
        part_of = pd.Series(range(len(pdf)), index=pdf.index) * INPUT_PARTS // max(len(pdf), 1)
    os.makedirs(path, exist_ok=True)
    paths = []
    for i in range(INPUT_PARTS):
        p = os.path.join(path, f"part-{i:05d}.parquet")
        table = pa.Table.from_pandas(pdf[part_of == i], preserve_index=False)
        # Spark reads microsecond timestamps, not pandas' nanoseconds
        pq.write_table(table, p, coerce_timestamps="us")
        paths.append(p)
    return paths


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


class Workload:
    """A clone-family corpus of ``n_files`` files staged under
    ``work/inputs``; each pass writes under its own dir."""

    gate_f1: float | None = None

    def __init__(self, spark: SparkSession, seed: int, work: str, n_files: int, hot_family: int = 0):
        self.spark = spark
        self.seed = seed
        self.inputs = os.path.join(work, "inputs")
        self.n_files = n_files
        self.hot_family = hot_family
        self.n_items = 0

    def params(self) -> dict:
        """Input-size parameters; part of the cross-run checksum key."""
        return {"n_files": self.n_files, "hot_family": self.hot_family}

    def corpus(self) -> pd.DataFrame:
        """``generate_files(seed=...)``, with each file's ``file_id``,
        collected in one Spark job and cut to whole clone families in
        entity-id order, ``n_files`` - 11 to ``n_files`` files in all:
        family sizes are seeded Zipf draws (at most 12 files, the hot
        family aside), so a plain entity count would move the input size,
        and every per-file rate with it, from seed to seed."""
        # families average about two files; generate ~40% more than needed
        files = generate_files(
            self.spark, n_entities=int(self.n_files * 0.7) + 1, seed=self.seed,
            hot_family_size=self.hot_family,
        ).select(*FILE_COLS, "entity_id", stable_file_id("repo", "path", "commit").alias("file_id"))
        pdf = files.toPandas().sort_values(["entity_id", "file_id"], ignore_index=True)
        upto = pdf.groupby("entity_id").size().cumsum()
        keep = upto[upto <= self.n_files]
        if keep.empty or keep.iloc[-1] < self.n_files - 11:
            raise RuntimeError(f"seed {self.seed} generated too few files for {self.n_files}")
        return pdf[pdf["entity_id"].isin(keep.index)].reset_index(drop=True)

    def stage_inputs(self) -> None:
        """Write the inputs from the seed (the same seed gives the same
        rows) and set ``n_items``, the number of files written."""
        raise NotImplementedError

    def load(self) -> None:
        raise NotImplementedError

    def run_pass(self, d: str) -> PassResult:
        raise NotImplementedError

    def traced_pass(self, tracer, d: str) -> tuple[PassResult, dict[str, float]]:
        """Returns the pass result and the layer counts it measured."""
        raise NotImplementedError

    def check(self, r: PassResult, expected: str | None) -> list[str]:
        errs = list(r.errors)
        if self.gate_f1 is not None and not r.f1 >= self.gate_f1:
            errs.append(f"pairwise_f1 {r.f1} below the gate {self.gate_f1}")
        if expected is not None and r.checksum != expected:
            errs.append(f"checksum {r.checksum} != {expected}")
        return errs

    def _spill(self, df: DataFrame, d: str, name: str) -> DataFrame:
        return spill(df, os.path.join(d, name))


# ------------------------------------------------------------------ batch


class BatchWorkload(Workload):
    """The two batch product paths over one staged clone-family corpus:
    ``ERPipeline.run`` on the CLI's path, every stage persisted to a fresh
    ``StageStore``; then training-data curation of the same files as
    (doc_id, text, lang): exact dedup, MinHash-LSH near-dup clusters, one
    representative per cluster, quality and repetition signals, and
    decontamination against a benchmark set of 300-char excerpts."""

    gate_f1 = 0.99  # BASELINE.json pairwise-F1 gate, on the ER clusters
    EXCERPT_CHARS = 300

    def __init__(self, spark, seed, work, n_files: int, hot_family: int, excerpt_every: int):
        super().__init__(spark, seed, work, n_files, hot_family)
        self.excerpt_every = excerpt_every
        self.pipe = ERPipeline(ERConfig())

    def params(self) -> dict:
        return {**super().params(), "excerpt_every": self.excerpt_every}

    def stage_inputs(self) -> None:
        files = self.corpus()
        write_parts(files[[*FILE_COLS, "entity_id", "file_id"]], os.path.join(self.inputs, "files"))
        pick = files["file_id"].map(
            lambda i: zlib.crc32(f"{i}:{self.seed}".encode()) % self.excerpt_every == 0
        )
        bench = files.loc[pick, ["file_id", "content"]].rename(
            columns={"file_id": "doc_id", "content": "text"}
        ).assign(text=lambda b: b["text"].str[: self.EXCERPT_CHARS])
        write_parts(bench, os.path.join(self.inputs, "benchmark"))
        self.n_items = len(files)

    def load(self) -> None:
        raw = self.spark.read.parquet(os.path.join(self.inputs, "files"))
        self.files = raw.select(*FILE_COLS)
        self.gold = raw.select("file_id", "entity_id")
        self.docs = raw.select(F.col("file_id").alias("doc_id"), F.col("content").alias("text"), "lang")
        self.bench = self.spark.read.parquet(os.path.join(self.inputs, "benchmark"))

    def _curate(self, step) -> DataFrame:
        """The curation chain; ``step(tag, build, shared)`` runs one call,
        ``shared`` marking tables more than one later call reads."""
        docs = self.docs
        survivors = step("dedup.exact", lambda: docs.join(
            exact_dup_groups(docs).where(F.col("doc_id") == F.col("dup_group")).select("doc_id"),
            "doc_id",
        ), True)
        pairs = step("dedup.lsh_pairs", lambda: minhash_lsh_dup_pairs(survivors), False)
        clusters = step("dedup.clusters", lambda: dedup_clusters(pairs, survivors), True)
        kept = step("dedup.clusters", lambda: survivors.join(
            keep_representatives(clusters).select("doc_id"), "doc_id"
        ), True)
        quality = step("textstats.quality", lambda: kept.select(
            "doc_id", quality_score("text").alias("quality")
        ), False)
        repetition = step("curation.repetition", lambda: repetition_stats(kept), False)
        contamination = step("curation.decontaminate", lambda: decontaminate(kept, self.bench), False)
        return quality.join(repetition, "doc_id").join(contamination, "doc_id")

    def _result(
        self, clusters: DataFrame, curated: DataFrame, wall: float, cpu: tuple[float, float] = (0.0, 0.0)
    ) -> PassResult:
        r = curated.agg(
            F.count(F.lit(1)).alias("kept"),
            F.sum(F.hash("doc_id").cast("long")).alias("h"),
            F.sum(F.col("contaminated").cast("long")).alias("contaminated"),
            F.sum("quality").alias("q"),
        ).collect()[0]
        return PassResult(
            wall_s=wall,
            cpu_s=cpu[0],
            jit_s=cpu[1],
            items=self.n_items,
            busy_s=wall,
            batch_latency_s=wall,
            checksum=(f"clusters {cluster_checksum(clusters, 'file_id')} "
                      f"curated {r['kept']}:{r['h']}:{r['contaminated']}:{r['q']:.6f}"),
            f1=pairwise_metrics(clusters, self.gold)["f1"],
        )

    def run_pass(self, d: str) -> PassResult:
        names = itertools.count()

        def step(tag, build, shared):
            df = build()
            return self._spill(df, d, f"{next(names)}_{tag}") if shared else df

        t0, c0 = time.perf_counter(), session_cpu_s()
        res = self.pipe.run(self.files, store=StageStore(self.spark, os.path.join(d, "store")))
        clusters = res.tables["clusters"]  # read back from the store
        curated = self._spill(self._curate(step), d, "curated")
        wall, c1 = time.perf_counter() - t0, session_cpu_s()
        return self._result(clusters, curated, wall, cpu_delta(c0, c1))

    def traced_pass(self, tracer, d):
        pipe, files = self.pipe, self.files
        store = StageStore(self.spark, os.path.join(d, "store"))
        stats = CCStats()
        ckpt = make_parquet_checkpointer(os.path.join(d, "cc"))
        names = itertools.count()
        steps: dict[str, DataFrame] = {}

        def stage(tag: str, build) -> DataFrame:
            with tracer.span(tag):
                df = self._spill(build(), d, tag)
            # what ERPipeline.run does after each stage with a store
            with tracer.span("store"):
                store.write(df, tag)
                lineage = store.write_lineage(store.read(tag), tag)
                store.write_metrics(tag, lineage)
            return df

        def step(tag, build, shared):
            with tracer.span(tag):
                df = self._spill(build(), d, f"{next(names)}_{tag}")
            steps[tag] = df
            return df

        t0 = time.perf_counter()
        with tracer.span("pass", tag=False):
            s0 = stage("s0_normalized", lambda: pipe.s0_normalize(files))
            s1 = stage("s1_signatures", lambda: pipe.s1_signatures(s0))
            blocks = stage("s1_blocks", lambda: pipe.s1_blocks(s1))
            pairs = stage("s2_pairs", lambda: pipe.s2_pairs(blocks))
            scores = stage("s2_scores", lambda: pipe.s2_scores(pairs, s1))
            edges = stage("s2_edges", lambda: pipe.s2_edges(scores))
            clusters = stage("s3_clusters", lambda: pipe.s3_clusters(edges, s0, stats, ckpt))
            curated = self._spill(self._curate(step), d, "curated")
        wall = time.perf_counter() - t0
        with tracer.span("bench.counts"):
            candidates = pairs.count()
            verified = steps["dedup.lsh_pairs"].count()
            # threshold 0 keeps every LSH candidate pair: the verify denominator
            lsh_candidates = minhash_lsh_dup_pairs(steps["dedup.exact"], jaccard_threshold=0.0).count()
            counts = {
                "s1_blocks.band_keys": blocks.count(),
                "s2_pairs.candidates": candidates,
                "s2_edges.kept_ratio": edges.count() / max(candidates, 1),
                "s3_clusters.iterations": stats.iterations,
                "s3_clusters.clusters": clusters.select("cluster_id").distinct().count(),
                "store.mb_written": dir_mb(os.path.join(d, "store")),
                "dedup.lsh_pairs.verified_ratio": verified / max(lsh_candidates, 1),
            }
            result = self._result(clusters, curated, wall)
        return result, counts


# --------------------------------------------------------------- streaming


class StreamWorkload(Workload):
    """Closed-loop drain of a staged parquet backlog through
    normalize_stream -> signature_stream -> incremental_assign_stream into
    a parquet sink; the next micro-batch starts when the previous commits.
    Every pass checks a checksum of its sink; the sink is resolved into
    clusters (``resolve_assignments_transitive``) once per run."""

    def __init__(self, spark, seed, work, n_files: int, files_per_trigger: int):
        super().__init__(spark, seed, work, n_files)
        self.files_per_trigger = files_per_trigger
        self.backlog = os.path.join(self.inputs, "backlog")
        self.resolved: tuple[str, float] | None = None  # cluster checksum, pairwise F1

    def params(self) -> dict:
        return {
            **super().params(),
            "backlog_files": INPUT_PARTS, "files_per_trigger": self.files_per_trigger,
        }

    def stage_inputs(self) -> None:
        pdf = self.corpus()[[*FILE_COLS, "entity_id", "file_id"]].sort_values("commit", ignore_index=True)
        pdf["event_ts"] = pd.Timestamp("2026-01-01", tz="UTC")
        # files arrive in commit-hash order, so a clone family's files
        # spread over the micro-batches and meet in the state store
        part_of = pdf["commit"].map(lambda c: zlib.crc32(c.encode()) % INPUT_PARTS)
        parts = write_parts(pdf, self.backlog, part_of)
        # the file source takes files in modification-time order; pin it
        # to the part number so every run sees the same micro-batches
        base = time.time() - len(parts) - 10
        for i, p in enumerate(parts):
            os.utime(p, (base + i, base + i))
        self.n_items = len(pdf)

    def load(self) -> None:
        self.gold = self.spark.read.parquet(self.backlog).select("file_id", "entity_id")

    def _drain(self, q) -> list[dict]:
        """Progress of every data-carrying batch, once all staged rows have
        been committed or the source has nothing left; raises on a failed
        or stalled query."""
        deadline = time.time() + STREAM_TIMEOUT_S
        while True:
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            by_batch = {p["batchId"]: p for p in (json.loads(p.json) for p in q.recentProgress)}
            data = [p for _, p in sorted(by_batch.items()) if p["numInputRows"] > 0]
            if sum(p["numInputRows"] for p in data) >= self.n_items:
                return data
            last = q.lastProgress
            if last is not None and last["numInputRows"] == 0 and not q.status["isDataAvailable"]:
                return data  # drained short: the telemetry check fails the pass
            if not q.isActive:
                raise RuntimeError("stream stopped before draining the backlog")
            if time.time() > deadline:
                raise RuntimeError(f"stream did not drain in {STREAM_TIMEOUT_S:.0f}s")
            time.sleep(0.05)

    def run_pass(self, d: str) -> PassResult:
        return self._result(d, *self._run_query(d))

    def _run_query(self, d: str) -> tuple[list[dict], float, tuple[float, float]]:
        """Drain the backlog into ``d/sink``; returns the data batches'
        progress, the wall-clock time the query was started, and the CPU
        time the process tree spent until the backlog was drained."""
        src = (
            self.spark.readStream.schema(STREAM_SCHEMA)
            .option("maxFilesPerTrigger", self.files_per_trigger)
            .parquet(self.backlog)
        )
        sigs = bs.signature_stream(bs.normalize_stream(src, STREAM_CFG), STREAM_CFG)
        assigned = bs.incremental_assign_stream(sigs, jaccard_threshold=0.5)
        t0, c0 = time.time(), session_cpu_s()
        q = (
            assigned.writeStream.format("parquet")
            .option("path", os.path.join(d, "sink"))
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            self.last_run_id = str(q.runId)
            data = self._drain(q)
            return data, t0, cpu_delta(c0, session_cpu_s())
        finally:
            q.stop()
            q.awaitTermination(60)

    def _result(self, d: str, data: list[dict], t0: float, cpu: tuple[float, float]) -> PassResult:
        errors = _telemetry_errors(data, self.n_items)
        if errors:
            return PassResult(0.0, 0, 0.0, 0.0, "", 0.0, errors=errors)
        ends = [_ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3 for p in data]
        trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in data]
        rows = sum(p["numInputRows"] for p in data)
        sink = self.spark.read.parquet(os.path.join(d, "sink"))
        if self.resolved is None:
            # resolved once per run: every pass's sink must match this
            # one's checksum, so it resolves to the same clusters
            clusters = self._spill(bs.resolve_assignments_transitive(sink), d, "clusters")
            self.resolved = (
                cluster_checksum(clusters, "file_id"), pairwise_metrics(clusters, self.gold)["f1"]
            )
        resolved, f1 = self.resolved
        h = sink.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.hash(*sink.columns).cast("long")).alias("h")
        ).collect()[0]
        return PassResult(
            wall_s=max(ends) - t0,
            cpu_s=cpu[0],
            jit_s=cpu[1],
            items=rows,
            busy_s=sum(trig),
            batch_latency_s=statistics.median(trig),
            checksum=f"sink {h['n']}:{h['h']} clusters {resolved}",
            f1=f1,
            progress=data,
        )

    def traced_pass(self, tracer, d):
        # the query's jobs carry its run id as their job group (set by
        # Spark); the worker reports them under the tag "stream"
        with tracer.span("pass", tag=False):
            with tracer.span("stream", tag=False):
                run = self._run_query(d)
        with tracer.span("bench.counts"):
            r = self._result(d, *run)
        return r, stream_layer_metrics(r.progress) if not r.errors else {}


def _ts(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _telemetry_errors(data: list[dict], staged: int) -> list[str]:
    """Bad stream telemetry is a failed pass, never a number."""
    if not data:
        return ["stream: zero data-carrying batches"]
    errs = []
    busy = [p.get("durationMs", {}).get("triggerExecution") for p in data]
    if any(b is None or b <= 0 for b in busy):
        errs.append(f"stream: null or zero triggerExecution in {busy}")
    rows = sum(p["numInputRows"] for p in data)
    if rows != staged:
        errs.append(f"stream: read {rows} rows, staged {staged}")
    return errs


def stream_layer_metrics(data: list[dict]) -> dict[str, float]:
    """Per-batch medians of the micro-batch phases and state-store work."""

    def med(fn) -> float:
        return statistics.median(fn(p) for p in data)

    def dur(p, *keys) -> float:
        return sum(p["durationMs"].get(k, 0) for k in keys) / 1e3

    def state(p, key) -> float:
        return sum(op.get(key, 0) for op in p.get("stateOperators", []))

    last = data[-1]
    add = sum(dur(p, "addBatch") for p in data)
    trig = sum(dur(p, "triggerExecution") for p in data)
    return {
        "stream.add_batch_s": med(lambda p: dur(p, "addBatch")),
        "stream.planning_s": med(lambda p: dur(p, "queryPlanning")),
        "stream.commit_s": med(lambda p: dur(p, "walCommit", "commitOffsets")),
        "stream.state_commit_s": med(lambda p: state(p, "commitTimeMs") / 1e3),
        "stream.state_update_s": med(lambda p: state(p, "allUpdatesTimeMs") / 1e3),
        "stream.state_rows": state(last, "numRowsTotal"),
        "stream.state_mb": state(last, "memoryUsedBytes") / 2**20,
        "stream.fixed_share": 1.0 - add / trig,
    }
