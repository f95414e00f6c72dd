"""The workloads. Each takes a ``Bench`` (session, tracer, sizes, seed,
scratch root) and returns a ``Result``.

- ``live``: an open-loop generator process lands small frame files on a
  fixed schedule; the default trigger commits few frames each, so the
  per-trigger and per-commit fixed cost sets freshness.
- ``query``: one client in a closed loop over point lookups, a
  per-label scan and registry curation queries, against a store built
  by per-epoch commits of the same pipeline.

Both write through one streaming pipeline: ``stream_dir`` ->
``infer_detections`` -> ``threshold_filter`` -> foreachBatch
``merge_into`` with an idempotency key per epoch. Both time saturated
triggers after the pipeline is warm: in ``live`` a backlog file landed
before the generator starts, in ``query`` the later epochs of the store
build.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd

import inputs
from tracing import SparkStatus

CURATION = (
    "x02_dedup_minhash_pairs",
    "x03_dedup_simhash_pairs",
    "x200_verbatim_span_dedup",
    "x05_embedding_near_pairs",
    "x06_ann_topk_multi",
    "q17_top_tokens",
    "x13_inference_replay",
    "q20_theta_self_join",
)
KEY_COLS = ["frame_id", "box_idx"]
N_BUCKETS = 8
# live: the generator's schedule. A lead-in of unmeasured files brings the
# stream to steady state
LIVE_FILES_PER_S = 4.0
LIVE_LEAD_S = 6.0
# the pipeline's triggers keep getting faster over the first few, as the
# JVM compiles its hot paths: write throughput is timed only after this
# many warm-up triggers
WARM_TRIGGERS = 2
# query: the store is built by this many epochs, one commit each; those
# after the warm-up are timed
BUILD_EPOCHS = 5


@dataclass(frozen=True)
class Sizes:
    payload_bytes: int = 2048
    # live: files of a few frames, after the warm-up triggers of
    # warm_frames each and one backlog trigger of backlog_frames
    live_frames_per_file: int = 16
    warm_frames: int = 256
    # live: the timed saturated write is one backlog trigger of this size
    backlog_frames: int = 2048
    # query: store build epochs and client mix
    epoch_frames: int = 1024
    retention_frames: int = 512
    lookup_keys: int = 16
    lookups_per_cycle: int = 4
    scans_per_cycle: int = 2
    n_docs: int = 1500
    n_vecs: int = 1000
    n_events: int = 40000


TINY = Sizes(
    payload_bytes=256, live_frames_per_file=4, warm_frames=32,
    backlog_frames=128, epoch_frames=64, retention_frames=32, lookup_keys=8,
    lookups_per_cycle=2, scans_per_cycle=1, n_docs=120, n_vecs=80,
    n_events=2000,
)


@dataclass
class Bench:
    spark: object
    tracer: object
    gateway: object | None  # GatewayCounter in traced runs
    sampler: object  # RssSampler, stopped when the timed window closes
    sizes: Sizes
    seed: int
    seconds: float
    root: str
    layer: dict = field(default_factory=dict)  # per-layer metrics

    @property
    def traced(self) -> bool:
        return self.tracer.enabled


@dataclass
class Result:
    setup_end: float
    window_s: float
    write_fps: float  # frames/s of saturated triggers after warm-up
    latencies: list[float]  # freshness or operation latency, seconds
    attempted: int
    failed: int
    detail: dict


# -- shared pipeline pieces ------------------------------------------------------


def _frame_schema():
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    return StructType(
        [StructField("frame_id", LongType()), StructField("payload", BinaryType())]
    )


def _create_store(b: Bench, path: str) -> None:
    from video_streamer_spark.operators.inference import DETECTION_SCHEMA
    from video_streamer_spark.operators.table_format import create_table

    create_table(
        b.spark.createDataFrame([], DETECTION_SCHEMA), path, KEY_COLS,
        n_buckets=N_BUCKETS,
    )


class FrameFiles:
    """Seeded frame files: file ``k`` of stream ``stream`` holds frames
    ``base + k * n .. base + (k + 1) * n - 1``."""

    def __init__(self, b: Bench, stream: int, n: int, base: int) -> None:
        self.b, self.stream, self.n, self.base = b, stream, n, base

    def name(self, k: int) -> str:
        return f"s{self.stream}-{k:05d}.parquet"

    def payloads(self, k: int) -> np.ndarray:
        return inputs.frame_payloads(
            self.b.seed, self.stream, k, self.n, self.b.sizes.payload_bytes
        )

    def ids(self, k: int) -> np.ndarray:
        return np.arange(self.base + k * self.n, self.base + (k + 1) * self.n,
                         dtype=np.int64)

    def stage(self, d: str, ks) -> list[str]:
        os.makedirs(d, exist_ok=True)
        names = []
        for k in ks:
            inputs.write_frame_file(os.path.join(d, self.name(k)),
                                    int(self.ids(k)[0]), self.payloads(k))
            names.append(self.name(k))
        return names

    def expected(self, ks) -> pd.DataFrame:
        return pd.concat(
            [inputs.expected_detections(self.ids(k), self.payloads(k)) for k in ks],
            ignore_index=True,
        )


class FileLog:
    """File name -> micro-batch id, from the checkpoint's file-source
    log (``sources/0/<batch>`` and its ``.compact`` files). Log files
    are immutable once written, so each is parsed once."""

    def __init__(self, ckpt: str) -> None:
        self.dir = os.path.join(ckpt, "sources", "0")
        self.batches: dict[str, int] = {}
        self._seen: set[str] = set()

    def read(self) -> dict[str, int]:
        names = os.listdir(self.dir) if os.path.isdir(self.dir) else []
        for name in names:
            if name in self._seen or not name.split(".")[0].isdigit() \
                    or name.endswith(".tmp"):
                continue
            with open(os.path.join(self.dir, name)) as fh:
                lines = fh.read().splitlines()
            for line in lines[1:]:
                if line.strip():
                    e = json.loads(line)
                    path = unquote(urlparse(e["path"]).path)
                    self.batches[os.path.basename(path)] = e["batchId"]
            self._seen.add(name)
        return self.batches


def _counting_loader(calls, secs, loads):
    """``model_loader`` for traced runs: the engine's own stub model,
    with call count, model seconds and loads in Spark accumulators."""
    from video_streamer_spark.operators.inference import stub_model

    def loader():
        import time as _time

        loads.add(1)

        def model(payload, frame_id):
            t = _time.perf_counter()
            out = stub_model(payload, frame_id)
            secs.add(_time.perf_counter() - t)
            calls.add(1)
            return out

        return model

    return loader


class Pipeline:
    """stream_dir -> infer_detections -> threshold_filter -> foreachBatch
    merge_into, with the per-commit bookkeeping the metrics need."""

    def __init__(self, b: Bench, watch: str, store: str, ckpt: str) -> None:
        self.b, self.watch, self.store, self.ckpt = b, watch, store, ckpt
        self.log = FileLog(ckpt)
        self.commits: dict[int, float] = {}
        self.merges: list[dict] = []  # traced: per-commit records
        self.lag_max = 0
        self.cached_max = 0
        self.loader = None
        if b.traced:
            sc = b.spark.sparkContext
            self.acc = (sc.accumulator(0), sc.accumulator(0.0), sc.accumulator(0))
            self.loader = _counting_loader(*self.acc)
            self.status = SparkStatus(b.spark)

    def stream(self, max_files: int | None):
        from video_streamer_spark.operators.detections import threshold_filter
        from video_streamer_spark.operators.inference import infer_detections
        from video_streamer_spark.streaming.pipeline import stream_dir

        frames = stream_dir(self.b.spark, self.watch, _frame_schema(),
                            max_files_per_trigger=max_files)
        return threshold_filter(infer_detections(frames, model_loader=self.loader))

    def sink(self, batch_df, epoch_id: int) -> None:
        from video_streamer_spark.operators.table_format import merge_into

        b = self.b
        with b.tracer.span("sink", "streaming", epoch=epoch_id):
            if b.traced:
                g0 = b.gateway.n
            with b.tracer.span("merge_into", "table_format", epoch=epoch_id) as sp:
                merge_into(
                    batch_df.sparkSession, self.store, batch_df,
                    when_not_matched_insert="all",
                    idempotency_key=f"{self.ckpt}:{epoch_id}",
                )
            self.commits[epoch_id] = time.time()
            if b.traced:
                self.merges.append({
                    "epoch": epoch_id, "s": sp["end"] - sp["start"],
                    "jobs": (sp["start"], sp["end"]),
                    "gw": b.gateway.n - g0,
                })
                landed = sum(1 for n in os.listdir(self.watch)
                             if n.endswith(".parquet"))
                done = sum(1 for e in self.log.read().values()
                           if e <= epoch_id)
                self.lag_max = max(self.lag_max, landed - done)
                self.cached_max = max(self.cached_max,
                                      self.status.cached_tables())

    def start(self, max_files: int | None, available_now: bool):
        w = (self.stream(max_files).writeStream.foreachBatch(self.sink)
             .option("checkpointLocation", self.ckpt))
        w = w.trigger(availableNow=True) if available_now else w
        return w.start()


def _iso(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _nest(tracer, name: str, parents: list[dict]) -> None:
    """Give parentless spans called ``name`` the parent whose interval
    contains their start (spans recorded on Spark's callback thread)."""
    for s in tracer.spans:
        if s["name"] == name and s["parent"] is None:
            for p in parents:
                if p["start"] - 1e-3 <= s["start"] <= p["end"] + 1e-3:
                    s["parent"] = p["id"]
                    break


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _stream_layers(b: Bench, pipe: Pipeline, progress: list[dict],
                   carried: set[int], frames: int, window: dict) -> None:
    """Per-layer metrics of a streaming workload (traced runs): trigger
    phases over the triggers that carried measured files, and trigger
    spans for every trigger overlapping the window."""
    tr = b.tracer
    for p in progress:
        start = _iso(p["timestamp"])
        end = start + p["durationMs"]["triggerExecution"] / 1000.0
        if p["numInputRows"] > 0 and end > window["start"] and start < window["end"]:
            tr.add("trigger", "streaming", start, end, parent=window["id"],
                   batch=p["batchId"], rows=p["numInputRows"])
    trig = [p for p in progress if p["batchId"] in carried]
    _nest(tr, "sink", [s for s in tr.spans if s["name"] == "trigger"])
    dm = [p["durationMs"] for p in trig]
    b.layer.update({
        "sources.offset_ms": _med(d.get("latestOffset", 0) for d in dm),
        "sources.get_batch_ms": _med(d.get("getBatch", 0) for d in dm),
        "sources.lag_files_max": pipe.lag_max,
        "streaming.triggers": len(trig),
        "streaming.trigger_p50_s": _med(d["triggerExecution"] / 1000 for d in dm),
        "streaming.plan_ms": _med(d.get("queryPlanning", 0) for d in dm),
        "streaming.add_batch_ms": _med(d.get("addBatch", 0) for d in dm),
        "streaming.log_ms": _med(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dm),
    })
    calls, secs, loads = (a.value for a in pipe.acc)
    b.layer.update({
        "inference.frames": frames,
        "inference.model_calls": calls,
        "inference.calls_per_frame": calls / max(1, frames),
        "inference.model_s": secs,
        "inference.model_loads": loads,
    })
    timed = [m for m in pipe.merges if m["epoch"] in {p["batchId"] for p in trig}]
    _merge_layers(b, pipe, timed)


def _merge_layers(b: Bench, pipe: Pipeline, merges: list[dict]) -> None:
    st = pipe.status
    st.drain()
    jobs = st.jobs()
    per = [st.between(jobs, *m["jobs"]) for m in merges]
    b.layer.update({
        "table_format.merge_s_p50": _med(m["s"] for m in merges),
        "table_format.jobs_per_commit": _med(len(p) for p in per),
        "table_format.gateway_calls_per_commit": _med(m["gw"] for m in merges),
        "caching.cached_tables_max": pipe.cached_max,
    })
    _exec_layers(b, per)


def _exec_layers(b: Bench, per_op: list[list[dict]]) -> None:
    """Spark execution counters, as means per operation (commit or
    query) over the timed window."""
    n = max(1, len(per_op))
    flat = [j for op in per_op for j in op]
    b.layer.update({
        "exec.jobs": len(flat) / n,
        "exec.tasks": sum(j["tasks"] for j in flat) / n,
        "exec.job_s": sum(j["s"] for j in flat) / n,
        "exec.shuffle_write_bytes": sum(j["shuffle"] for j in flat) / n,
        "exec.spill_bytes": sum(j["spill"] for j in flat) / n,
    })


def _store_layers(b: Bench, store: str, keys: pd.DataFrame) -> None:
    """Layout of the store after the run (traced runs, untimed)."""
    import pyarrow.parquet as pq

    from video_streamer_spark.operators.table_format import (
        read_table,
        read_table_for_keys,
    )

    spark = b.spark
    commit_files, rows, size = [], 0, 0
    data = os.path.join(store, "data")
    for c in sorted(os.listdir(data)) if os.path.isdir(data) else []:
        files = [os.path.join(dp, f) for dp, _, fs in os.walk(os.path.join(data, c))
                 for f in fs if f.endswith(".parquet")]
        commit_files.append(len(files))
        for f in files:
            size += os.path.getsize(f)
            rows += pq.read_metadata(f).num_rows
    mdir = os.path.join(store, "_manifests")
    latest = max(n for n in os.listdir(mdir) if n.endswith(".json"))
    with open(os.path.join(mdir, latest)) as fh:
        doc = json.load(fh)
    tomb = sum(
        pq.read_metadata(os.path.join(store, ref, f)).num_rows
        for refs in doc.get("tombstones", {}).values() for ref in refs
        for f in (os.listdir(os.path.join(store, ref))
                  if os.path.isdir(os.path.join(store, ref)) else [])
        if f.endswith(".parquet")
    )
    b.layer.update({
        "table_format.files_per_commit": _med(commit_files),
        "table_format.bytes_per_row": size / max(1, rows),
        "table_format.scan_files": len(read_table(spark, store).inputFiles()),
        "table_format.lookup_files": len(read_table_for_keys(
            spark, store, spark.createDataFrame(keys)).inputFiles()),
        "table_format.tombstone_keys": tomb,
    })


def check_store(actual: pd.DataFrame, expected: pd.DataFrame) -> set[int]:
    """Frame ids whose committed detections differ from the closed
    form: a missing, extra or different row fails its frame."""
    cols = ["frame_id", "box_idx", "ymin", "xmin", "ymax", "xmax",
            "label_id", "score"]
    a = actual[cols].astype({"frame_id": "int64", "box_idx": "int64",
                             "label_id": "int64"})
    e = expected[cols].astype({"frame_id": "int64", "box_idx": "int64",
                               "label_id": "int64"})
    m = a.merge(e, on=KEY_COLS, how="outer", suffixes=("_a", "_e"),
                indicator=True)
    bad = m["_merge"] != "both"
    for c in cols[2:]:
        bad |= ~np.isclose(m[f"{c}_a"].astype(float), m[f"{c}_e"].astype(float),
                           rtol=0, atol=1e-9, equal_nan=False)
    dup = a.duplicated(KEY_COLS, keep=False)
    return set(m.loc[bad, "frame_id"].tolist()) | set(a.loc[dup, "frame_id"])


def _store_failures(b: Bench, store: str, expected: pd.DataFrame) -> set[int]:
    from video_streamer_spark.operators.table_format import read_table

    return check_store(read_table(b.spark, store).toPandas(), expected)


def _lookup_keys(b: Bench, rng: np.random.Generator, present: pd.DataFrame,
                 deleted: pd.DataFrame, hi: int) -> pd.DataFrame:
    """Seeded key set: mostly stored keys, plus deleted and absent ones."""
    k = b.sizes.lookup_keys
    n_del = min(len(deleted), k // 4)
    parts = [
        present.iloc[rng.choice(len(present), k - 2 * (k // 4), replace=False)],
        deleted.iloc[rng.choice(len(deleted), n_del, replace=False)]
        if n_del else deleted.iloc[:0],
        pd.DataFrame({"frame_id": rng.integers(hi, 2 * hi, k // 4),
                      "box_idx": rng.integers(0, 3, k // 4)}),
    ]
    keys = pd.concat([p[KEY_COLS] for p in parts], ignore_index=True)
    return keys.astype({"frame_id": "int64", "box_idx": "int32"}).drop_duplicates()


# -- live ---------------------------------------------------------------------------


def _land(hold: str, watch: str, name: str) -> float:
    """Move a staged file into the watched directory; return when."""
    os.rename(os.path.join(hold, name), os.path.join(watch, name))
    return time.time()


def live(b: Bench) -> Result:
    s = b.sizes
    hold, watch = f"{b.root}/hold", f"{b.root}/frames"
    store, ckpt = f"{b.root}/store", f"{b.root}/ckpt"
    os.makedirs(watch)
    warm = FrameFiles(b, 1, s.warm_frames, 10**9)
    backlog = FrameFiles(b, 2, s.backlog_frames, 2 * 10**9)
    files = FrameFiles(b, 0, s.live_frames_per_file, 0)
    # the measured files are those due in the --seconds after the lead-in
    n_lead = int(round(LIVE_LEAD_S * LIVE_FILES_PER_S))
    n_measured = max(2, int(round(b.seconds * LIVE_FILES_PER_S)))
    # the stream never idles, so the trigger that picks up the last
    # measured file is the same whether or not files land after it
    n_files = n_lead + n_measured
    names = files.stage(hold, range(n_files))
    measured = names[n_lead:]
    warm.stage(hold, range(WARM_TRIGGERS))
    backlog.stage(hold, [0])
    _create_store(b, store)
    pipe = Pipeline(b, watch, store, ckpt)
    q = pipe.start(None, available_now=False)
    try:
        # warm-up triggers: JIT, worker start and codegen
        for k in range(WARM_TRIGGERS):
            _land(hold, watch, warm.name(k))
            _await_commits(q, pipe, [warm.name(k)], 150)
        # one saturated trigger: the backlog file, landed -> committed
        t_land = _land(hold, watch, backlog.name(0))
        batches = _await_commits(q, pipe, [backlog.name(0)], 150)
        write_s = pipe.commits[batches[backlog.name(0)]] - t_land
        stop = f"{b.root}/gen.stop"
        interval = 1.0 / LIVE_FILES_PER_S
        t_gen = time.time() + 0.2
        t_open = t_gen + n_lead * interval
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
             hold, watch, stop, repr(t_gen), repr(interval), *names],
            stdout=subprocess.PIPE, text=True,
        )
        b.sampler.skip.add(gen.pid)
        with b.tracer.span("window", "bench") as window:
            try:
                _await_picked(q, pipe, measured, LIVE_LEAD_S + b.seconds + 60)
            finally:
                open(stop, "w").close()
                out, _ = gen.communicate(timeout=60)
            if gen.returncode != 0:
                raise RuntimeError(f"generator exited with {gen.returncode}")
            sent = [json.loads(line) for line in out.splitlines() if line]
            delivered = [r["name"] for r in sent]
            batches = _await_commits(q, pipe, delivered, 60)
        b.sampler.stop()
        progress = _await_progress(q, max(batches[n] for n in delivered))
    finally:
        q.stop()
    due = {r["name"]: r["due"] for r in sent}
    late = {r["name"]: r["done"] - r["due"] for r in sent}
    ok = [n for n in measured if batches.get(n) in pipe.commits]
    t_close = max(pipe.commits[batches[n]] for n in ok) if ok else time.time()
    lat = [pipe.commits[batches[n]] - due[n] for n in ok]
    ks = [k for k in range(n_files) if files.name(k) in due]
    expected = pd.concat([files.expected(ks),
                          warm.expected(range(WARM_TRIGGERS)),
                          backlog.expected([0])], ignore_index=True)
    attempted = len(ks) * files.n + WARM_TRIGGERS * warm.n + backlog.n
    failed = _store_failures(b, store, expected)
    failed |= {int(f) for k in ks
               if batches.get(files.name(k)) not in pipe.commits
               for f in files.ids(k)}
    # a generator more than a second behind its schedule invalidates
    # the files it delivered late
    failed |= {int(f) for k in ks if late[files.name(k)] > 1.0
               for f in files.ids(k)}
    carried = {batches[n] for n in ok}
    if b.traced:
        window.update(start=t_open, end=t_close)
        _stream_layers(b, pipe, progress, carried, attempted, window)
        _store_layers(b, store, expected.iloc[: s.lookup_keys][KEY_COLS])
        b.layer["gen.late_max_s"] = max(late.values())
    # set-up ends when the generator's schedule starts: the lead-in is a
    # fixed part of that schedule, not work the program does
    return Result(
        setup_end=t_gen, window_s=t_close - t_open,
        write_fps=backlog.n / write_s, latencies=lat,
        attempted=attempted, failed=len(failed),
        detail={"measured_files": len(measured), "delivered_files": len(ks),
                "frames_per_file": files.n, "files_per_s": LIVE_FILES_PER_S,
                "lead_in_s": n_lead * interval, "write_s": round(write_s, 4),
                "triggers_measured": len(carried),
                "gen_late_max_s": round(max(late.values()), 4)},
    )


def _await_progress(q, batch_id: int, timeout: float = 30) -> list[dict]:
    """Progress events up to ``batch_id``: a trigger reports progress
    only after its sink returns and its offsets commit."""
    deadline = time.time() + timeout
    while True:
        progress = list(q.recentProgress)
        if any(p["batchId"] >= batch_id for p in progress) or time.time() > deadline:
            return progress
        time.sleep(0.05)


def _await_picked(q, pipe: Pipeline, names: list[str], timeout: float) -> None:
    """Wait until a micro-batch has picked up every named file."""
    _await(q, pipe, timeout, lambda b: all(n in b for n in names))


def _await_commits(q, pipe: Pipeline, names: list[str],
                   timeout: float) -> dict[str, int]:
    """Wait until every named file's micro-batch has committed."""
    return _await(q, pipe, timeout,
                  lambda b: all(b.get(n) in pipe.commits for n in names))


def _await(q, pipe: Pipeline, timeout: float, done) -> dict[str, int]:
    """Poll the file-source log until ``done(batches)``. Commit times
    come from the sink, so the poll interval enters no measurement."""
    deadline = time.time() + timeout
    while True:
        batches = pipe.log.read()
        if done(batches):
            return batches
        if q.exception() is not None:
            raise q.exception()
        if time.time() > deadline:
            return batches
        time.sleep(0.2)


# -- query ---------------------------------------------------------------------------


def query(b: Bench) -> Result:
    from video_streamer_spark.operators.detections import (
        per_label_counts,
        scale_boxes,
        with_labels,
    )
    from video_streamer_spark.operators.table_format import (
        delete_keys,
        read_table,
        read_table_for_keys,
    )
    from video_streamer_spark.queries import ORACLES, QUERIES
    from video_streamer_spark.sources.labels import labels
    from video_streamer_spark.streaming.drain import drain_or_raise

    s, spark, tr = b.sizes, b.spark, b.tracer
    sf, watch = f"{b.root}/sf", f"{b.root}/frames"
    store, ckpt = f"{b.root}/store", f"{b.root}/ckpt"
    inputs.write_curation_tables(sf, b.seed, s.n_docs, s.n_vecs, s.n_events)

    # store: one merge_into commit per epoch of the streaming pipeline.
    # Each epoch after the warm-up is a timed saturated trigger, from the
    # previous commit's return to its own
    files = FrameFiles(b, 0, s.epoch_frames, 0)
    ks = range(BUILD_EPOCHS)
    names = files.stage(watch, ks)
    _create_store(b, store)
    pipe = Pipeline(b, watch, store, ckpt)
    drain_or_raise(pipe.start(1, available_now=True), 170, "store build")
    commits = [pipe.commits[pipe.log.read()[n]] for n in names]
    write_s = [t1 - t0 for t0, t1 in zip(commits[WARM_TRIGGERS - 1:],
                                         commits[WARM_TRIGGERS:])]
    expected = files.expected(ks)
    gone = expected["frame_id"] < s.retention_frames
    deleted, present = expected[gone], expected[~gone].reset_index(drop=True)
    delete_keys(spark, store, spark.createDataFrame(deleted[KEY_COLS]),
                idempotency_key="retention")
    hi = int(files.ids(BUILD_EPOCHS - 1)[-1]) + 1
    want_counts = inputs.per_label_counts(present)

    def lookup(keys: pd.DataFrame):
        return read_table_for_keys(spark, store, spark.createDataFrame(keys))

    def scan():
        return per_label_counts(with_labels(scale_boxes(read_table(spark, store)),
                                            labels(spark)))

    def expect_lookup(keys: pd.DataFrame) -> str:
        rows = present.merge(keys, on=KEY_COLS)
        return inputs.frame_digest(rows[list(present.columns)])

    rng = np.random.default_rng([b.seed, 11])
    warm_keys = _lookup_keys(b, rng, present, deleted, hi)
    status = SparkStatus(spark)
    ops_done: list[dict] = []

    def run(kind: str, arg, build) -> dict:
        rec = {"kind": kind, "arg": arg, "ok": True}
        t0 = time.time()
        with tr.span(kind, "bench", arg=str(arg)[:40]) as op:
            try:
                layer = "queries" if kind == "curate" else "table_format"
                if b.traced:
                    g0 = b.gateway.n
                with tr.span("construct", layer) as c:
                    df = build()
                if b.traced:
                    rec["gw"] = b.gateway.n - g0
                    rec["construct_s"] = c["end"] - c["start"]
                    with tr.span("plan", "plans") as p:
                        df._jdf.queryExecution().executedPlan()
                    rec["plan_s"] = p["end"] - p["start"]
                with tr.span("collect", "collect") as c:
                    rec["pdf"] = df.toPandas()
                if b.traced:
                    rec["collect"] = (c["start"], c["end"])
                    rec["cached"] = status.cached_tables()
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                traceback.print_exc()
                rec["ok"] = False
        rec["s"] = time.time() - t0
        if b.traced:
            rec["jobs"] = (op["start"], op["end"])
        return rec

    # warm-up: every operation once; curation results are the digests
    # the DuckDB oracle check compares
    warm = {name: run("curate", name, lambda n=name: QUERIES[n](spark, sf))
            for name in CURATION}
    warm_lookup = run("lookup", 0, lambda: lookup(warm_keys))
    warm_scan = run("scan", 0, scan)

    mix = ([("curate", n) for n in CURATION]
           + [("lookup", i) for i in range(s.lookups_per_cycle)]
           + [("scan", i) for i in range(s.scans_per_cycle)])
    t_open = time.time()
    cycle = 0
    with tr.span("window", "bench") as window:
        while cycle == 0 or time.time() - t_open < b.seconds:
            order = np.random.default_rng([b.seed, 12, cycle]).permutation(len(mix))
            for i in order:
                kind, arg = mix[i]
                if kind == "curate":
                    rec = run(kind, arg, lambda n=arg: QUERIES[n](spark, sf))
                elif kind == "lookup":
                    keys = _lookup_keys(
                        b, np.random.default_rng([b.seed, 13, cycle, arg]),
                        present, deleted, hi)
                    rec = run(kind, arg, lambda k=keys: lookup(k))
                    rec["keys"] = keys
                else:
                    rec = run(kind, arg, scan)
                ops_done.append(rec)
            cycle += 1
    t_close = time.time()
    b.sampler.stop()

    # correctness, outside timing
    import duckdb

    con = duckdb.connect(config={"threads": 2})
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracle = {}
    for name in CURATION:
        res = con.execute(ORACLES[name])
        oracle[name] = inputs.rows_digest([d[0] for d in res.description],
                                          res.fetchall())
    con.close()

    def correct(rec: dict) -> bool:
        if not rec["ok"]:
            return False
        pdf = rec["pdf"]
        if rec["kind"] == "curate":
            return inputs.frame_digest(pdf) == oracle[rec["arg"]]
        if rec["kind"] == "lookup":
            keys = rec.get("keys", warm_keys)
            return inputs.frame_digest(pdf[list(present.columns)]) == expect_lookup(keys)
        got = {int(r.label_id): int(r.n_detections) for r in pdf.itertuples()}
        names_ok = all(r.label_name == f"label_{int(r.label_id)}"
                       for r in pdf.itertuples())
        return got == want_counts and names_ok

    checked = [*warm.values(), warm_lookup, warm_scan, *ops_done]
    failed = sum(not correct(r) for r in checked)

    by_kind: dict[str, list[float]] = {}
    for r in ops_done:
        by_kind.setdefault(r["kind"], []).append(r["s"])
    window_s = t_close - t_open
    if b.traced:
        _query_layers(b, pipe, status, ops_done, store, warm_keys, s)
    return Result(
        setup_end=t_open, window_s=window_s,
        write_fps=files.n / statistics.median(write_s),
        latencies=[r["s"] for r in ops_done],
        attempted=len(checked), failed=failed,
        detail={
            "ops": len(ops_done), "cycles": cycle,
            "ops_per_s": len(ops_done) / window_s,
            "write_s": [round(w, 4) for w in write_s],
            "lookup_p50_s": _med(by_kind.get("lookup", [])),
            "scan_p50_s": _med(by_kind.get("scan", [])),
            "curate_qps": len(by_kind.get("curate", []))
            / max(1e-9, sum(by_kind.get("curate", []))),
            "store_rows": len(present), "deleted_rows": len(deleted),
        },
    )


def _query_layers(b: Bench, pipe: Pipeline, status: SparkStatus,
                  ops: list[dict], store: str, keys: pd.DataFrame, s: Sizes) -> None:
    status.drain()
    jobs = status.jobs()

    def in_range(t0, t1):
        return status.between(jobs, t0, t1)

    ok = [r for r in ops if r["ok"]]
    collect_s = []
    for r in ok:
        t0, t1 = r["collect"]
        collect_s.append(max(0.0, t1 - t0 - sum(j["s"] for j in in_range(t0, t1))))
    b.layer.update({
        "queries.construct_s": _med(r["construct_s"] for r in ok),
        "queries.gateway_calls": _med(r["gw"] for r in ok),
        "plans.plan_s": _med(r["plan_s"] for r in ok),
        "queries.collect_s": _med(collect_s),
    })
    _exec_layers(b, [in_range(*r["jobs"]) for r in ok])
    calls, secs, loads = (a.value for a in pipe.acc)
    frames = BUILD_EPOCHS * s.epoch_frames
    b.layer.update({
        "inference.frames": frames,
        "inference.model_calls": calls,
        "inference.calls_per_frame": calls / max(1, frames),
        "inference.model_s": secs,
        "inference.model_loads": loads,
        "table_format.merge_s_p50": _med(m["s"] for m in pipe.merges),
        "table_format.jobs_per_commit": _med(
            len(in_range(*m["jobs"])) for m in pipe.merges),
        "table_format.gateway_calls_per_commit": _med(m["gw"] for m in pipe.merges),
        "caching.cached_tables_max": max([r.get("cached", 0) for r in ok] or [0]),
    })
    _store_layers(b, store, keys)
