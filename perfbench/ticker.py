"""``ticker_reactive``: the reference's own reactive flow, events files ->
``reactive_ticker_meta_run`` -> the derived ``ticker_meta`` table.

Steady phase: an open-loop generator thread writes one seeded events
file every ``1 / FILES_PER_S`` seconds into the source directory, and
the stream runs with a zero-second trigger. Every event's ``ts`` is its
file's due time on a fixed logical clock, so the ``ticker_ingest``
observed ``max_ts`` of a micro-batch names the newest file it merged.
Freshness of a file is the end of that micro-batch (progress timestamp
plus ``triggerExecution``) minus the file's due time.

Catch-up phase (run before the steady phase): a fixed backlog is
written and then drained with ``available_now=True`` and
``max_files_per_trigger``, over several micro-batches; ``pass_s`` is the
drain time.

``latency_s`` is freshness p50; its p90 is the per-layer
``streaming.freshness_p90_s``.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

from common import (WORK, SparkRest, Tracer, host_fingerprint, median, nearest_rank, spark_time,
                    start_session)

#: Well under saturation: at 25 files/s a contended host pushed the
#: stream near its limit and freshness doubled while drains did not.
FILES_PER_S = 10
EVENTS_PER_FILE = 100
WARM_IN_S = 6.0
BACKLOG_FILES = 60
MAX_FILES_PER_TRIGGER = 15
WARMUP_FILES = 10
WARMUP_FILES_PER_TRIGGER = 5
LATE_SHARE, LATE_MAX_S = 0.02, 3600.0
REDELIVER_SHARE, REDELIVER_WINDOW = 0.01, 40
#: Logical time of file 0: Bangkok midnight, so late events fall on the
#: previous Bangkok day and each merge touches two partitions.
BASE = datetime(2024, 1, 1, 17, 0, 0)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SYMBOLS = ("XT", "SCHX", "IXJ", "WCLD")
PARTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class EventFiles:
    """Seeded event files. File ``i`` carries ts = BASE + i / FILES_PER_S;
    its first event is always on time, some later ones are late (but
    inside the 2-hour dedup watermark) and some are exact re-deliveries
    of recent events."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        #: per file: column name -> numpy array; ts in ns after BASE
        self.files: list[dict[str, np.ndarray]] = []
        self._next_id = 0

    def make(self, n: int) -> None:
        rng = self.rng
        for _ in range(n):
            i = len(self.files)
            k = EVENTS_PER_FILE
            late = rng.random(k) < LATE_SHARE
            late[0] = False
            late_ns = (rng.uniform(1.0, LATE_MAX_S, k) * 1e3).astype(np.int64) * 10**6
            cols = {
                "event_id": np.arange(self._next_id, self._next_id + k, dtype=np.int64),
                "ts": np.int64(round(i * 1e9 / FILES_PER_S)) - np.where(late, late_ns, 0),
                "user_id": rng.integers(0, 200, k),
                "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, k)],
                "value": np.round(rng.integers(1, 49001, k) / 100.0, 2),
                "props": np.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, k)], dtype=object),
            }
            self._next_id += k
            if i > 0:
                for j in np.nonzero(rng.random(k) < REDELIVER_SHARE)[0]:
                    if j == 0:
                        continue
                    src = self.files[int(rng.integers(max(0, i - REDELIVER_WINDOW), i))]
                    r = int(rng.integers(0, k))
                    for c in cols:
                        cols[c][j] = src[c][r]
            self.files.append(cols)

    def write(self, i: int, src_dir: str) -> None:
        """Write file ``i`` then rename it into place, so the file source
        never lists a partial file (Spark's listing skips dot-files)."""
        c = self.files[i]
        table = pa.table({
            "event_id": pa.array(c["event_id"], pa.int64()),
            "ts": pa.array(np.datetime64(BASE, "ns") + c["ts"].astype("timedelta64[ns]"), pa.timestamp("ns")),
            "user_id": pa.array(c["user_id"], pa.int64()),
            "event_type": pa.array(c["event_type"], pa.string()),
            "value": pa.array(c["value"], pa.float64()),
            "props": pa.array(c["props"], pa.string()),
        })
        tmp = os.path.join(src_dir, f".tmp-{i:06d}.parquet")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(src_dir, f"part-{i:06d}.parquet"))

    def expected_meta(self) -> set[tuple]:
        """Independent min/max per (symbol, Bangkok day) over the
        de-duplicated events of every file."""
        seen: dict[int, tuple] = {}
        for c in self.files:
            for eid, ts, uid, val in zip(c["event_id"].tolist(), c["ts"].tolist(),
                                         c["user_id"].tolist(), c["value"].tolist()):
                seen.setdefault(eid, (ts, uid, val))
        agg: dict[tuple, list[float]] = {}
        for ts, uid, val in seen.values():
            day = BASE + timedelta(microseconds=ts // 1000, hours=7)
            cur = agg.setdefault((SYMBOLS[uid % 4], day.strftime("%Y%m%d")), [val, val])
            cur[0], cur[1] = max(cur[0], val), min(cur[1], val)
        return {(s, mx, mn, p) for (s, p), (mx, mn) in agg.items()}


def file_index(max_ts) -> int:
    return int(round((max_ts - BASE).total_seconds() * FILES_PER_S))


class Progress(StreamingQueryListener):
    """Collects every micro-batch's progress. With ``rest`` set, it also
    snapshots the Spark driver's job list after each micro-batch whose
    newest file falls in ``traced`` (the traced blocks of a traced run)."""

    def __init__(self, out_dir: str, rest: SparkRest | None = None):
        self.out_dir = out_dir
        self.batches: list[dict] = []
        self.rest = rest
        self.traced = range(0)
        self.jobs: dict[int, dict] = {}
        self.lock = threading.Lock()

    def onQueryStarted(self, event):  # noqa: D102
        pass

    def onQueryIdle(self, event):  # noqa: D102
        pass

    def onQueryTerminated(self, event):  # noqa: D102
        pass

    def onQueryProgress(self, event):  # noqa: D102
        p = event.progress
        m = p.observedMetrics.get("ticker_ingest")
        if not p.numInputRows or m is None or m["max_ts"] is None:
            return
        files = nbytes = 0
        for root, _dirs, names in os.walk(self.out_dir):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(root, n))
        ops = p.stateOperators
        start = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
        rec = {
            "batch": p.batchId,
            "start": start,
            "end": start + p.durationMs["triggerExecution"] / 1000.0,
            "ms": dict(p.durationMs),
            "rows": p.numInputRows,
            "idx": file_index(m["max_ts"]),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_mb": sum(o.memoryUsedBytes for o in ops) / 1e6,
            "sink_files": files,
            "sink_bytes": nbytes,
            "traced": self.rest is not None and file_index(m["max_ts"]) in self.traced,
        }
        if rec["traced"]:
            for j in self.rest.jobs():
                self.jobs[j["jobId"]] = j
        with self.lock:
            self.batches.append(rec)

    def take(self) -> list[dict]:
        with self.lock:
            out, self.batches = self.batches, []
        return out


class TickerRun:
    def __init__(self, seed: int, seconds: int, trace: bool, sampler):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sampler = sampler
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.tracer = Tracer()
        self.work = os.path.join(WORK, f"ticker-{os.getpid()}")

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    def _dirs(self, name: str) -> tuple[str, str, str]:
        base = os.path.join(self.work, name)
        dirs = tuple(os.path.join(base, d) for d in ("src", "ticker_meta", "ckpt"))
        os.makedirs(dirs[0], exist_ok=True)
        return dirs

    def drain(self, spark, files: EventFiles, lo: int, hi: int, dirs,
              per_trigger: int = MAX_FILES_PER_TRIGGER, listener: Progress | None = None):
        """Write files [lo, hi) as a backlog, then drain it in
        ``max_files_per_trigger`` batches; returns the drain seconds and,
        with ``listener``, the drain's micro-batches. Listener events
        reach Python asynchronously, so they are awaited (with a
        deadline) until the batch that merged the last backlog file."""
        from reactive_data_pipeline_spark.streaming.reactive import reactive_ticker_meta_run

        for i in range(lo, hi):
            files.write(i, dirs[0])
        t0 = time.time()
        q = reactive_ticker_meta_run(spark, dirs[0], dirs[1], dirs[2], available_now=True,
                                     max_files_per_trigger=per_trigger)
        q.awaitTermination()
        drain_s = time.time() - t0
        batches: list[dict] = []
        deadline = time.time() + 30
        while listener is not None and time.time() < deadline:
            batches += listener.take()
            if batches and max(b["idx"] for b in batches) >= hi - 1:
                break
            time.sleep(0.05)
        return drain_s, batches

    def steady(self, spark, files: EventFiles, first: int, dirs, listener: Progress) -> dict:
        """Open-loop phase: files [first, first + n) at FILES_PER_S; the
        files of the first WARM_IN_S are not scored. A traced run scores
        twice as many files, in four equal blocks, and traces the
        micro-batches of the middle two (A B B A), so that warm-up and
        the growing source listing fall on both sides of the comparison."""
        from reactive_data_pipeline_spark.streaming.reactive import reactive_ticker_meta_run

        warm = int(WARM_IN_S * FILES_PER_S)
        scored = self.seconds * FILES_PER_S * (2 if self.trace else 1)
        block = scored // 4
        n = warm + scored
        files.make(first + n - len(files.files))
        if self.trace:
            listener.traced = range(first + warm + block, first + warm + 3 * block)
        q = reactive_ticker_meta_run(spark, dirs[0], dirs[1], dirs[2], available_now=False,
                                     processing_time="0 seconds")
        ready = time.time() + 5
        while q.status["message"] != "Waiting for data to arrive" and time.time() < ready:
            time.sleep(0.05)
        late = []
        t0 = time.time() + 0.2
        for k in range(n):
            due = t0 + k / FILES_PER_S
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            files.write(first + k, dirs[0])
            late.append(time.time() - due)
        deadline = time.time() + 60
        batches: list[dict] = []
        while time.time() < deadline:
            batches += listener.take()
            if batches and max(b["idx"] for b in batches) >= first + n - 1:
                break
            time.sleep(0.05)
        # Stop between triggers: interrupting a running foreachBatch
        # makes the stream thread fail noisily on its way out.
        idle = time.time() + 5
        while q.status["isTriggerActive"] and time.time() < idle:
            time.sleep(0.01)
        q.stop()
        batches += listener.take()
        batches = sorted((b for b in batches if b["idx"] >= first), key=lambda b: b["batch"])
        fresh: dict[str, list[float]] = {"untraced": [], "traced": []}
        prev, backlog = first - 1, []
        for b in batches:
            for i in range(prev + 1, b["idx"] + 1):
                k = i - first - warm
                if k >= 0:
                    phase = "traced" if self.trace and k // block in (1, 2) else "untraced"
                    fresh[phase].append(b["end"] - (t0 + (i - first) / FILES_PER_S))
            prev = max(prev, b["idx"])
            due_by_end = min(n, int((b["end"] - t0) * FILES_PER_S) + 1)
            backlog.append(due_by_end - (prev - first + 1))
        self.attempted += n
        if prev < first + n - 1:
            self._fail(f"steady phase: only files up to {prev} merged of {first + n - 1}")
        return {"fresh": fresh["untraced"] + fresh["traced"], "fresh_untraced": fresh["untraced"],
                "fresh_traced": fresh["traced"], "batches": batches, "late_ms_max": max(late) * 1000.0,
                "backlog_max": max(backlog, default=0)}

    def run(self, clock0: float, excluded_s: float) -> tuple[dict, dict, dict]:
        shutil.rmtree(self.work, ignore_errors=True)
        # One setup per run: a stream start in a fresh session costs ~7 s,
        # too much to repeat within the run budget.
        t = time.time()
        spark = start_session("perfbench-ticker")
        self.sampler.attach(spark)
        start_s = time.time() - t
        tw = time.time()
        warm = EventFiles(self.seed + 1000)
        warm.make(WARMUP_FILES)
        self.drain(spark, warm, 0, WARMUP_FILES, self._dirs("warmup"), WARMUP_FILES_PER_TRIGGER)
        warm_s = time.time() - tw
        setup_s = time.time() - clock0 - excluded_s

        files = EventFiles(self.seed)
        dirs = self._dirs("main")
        files.make(BACKLOG_FILES)
        self.attempted += 1
        listener = Progress(dirs[1], SparkRest(spark) if self.trace else None)
        spark.streams.addListener(listener)
        drain_s, drained = self.drain(spark, files, 0, BACKLOG_FILES, dirs, listener=listener)
        if max((b["idx"] for b in drained), default=-1) != BACKLOG_FILES - 1:
            self._fail("catch-up drain did not reach its last backlog file")
        phase = self.steady(spark, files, len(files.files), dirs, listener)
        spark.streams.removeListener(listener)

        peak_mb = self.sampler.stop()
        self.attempted += 1
        check = self.check(spark, files, dirs[1])
        fingerprint = host_fingerprint(spark)
        layer = self.layer_metrics(spark, listener, phase, drain_s, start_s, warm_s) if self.trace else {}
        spark.stop()
        shutil.rmtree(self.work, ignore_errors=True)
        e2e = {
            "setup_s": setup_s,
            "pass_s": drain_s,
            "latency_s": median(phase["fresh"]),
            "peak_pss_mb": peak_mb,
        }
        detail = {"setup_s": setup_s, "session_start_s": start_s, "warmup_s": warm_s,
                  "drain_s": drain_s, "drain_batches": len(drained), "fresh_samples": len(phase["fresh"]),
                  "catchup_events_per_s": BACKLOG_FILES * EVENTS_PER_FILE / drain_s,
                  "generator_late_ms_max": phase["late_ms_max"],
                  "steady_batches": [(b["idx"], b["ms"]["triggerExecution"]) for b in phase["batches"]],
                  "backlog_files_max": phase["backlog_max"], "check": check,
                  "fingerprint": fingerprint, "errors": self.errors}
        return e2e, layer, detail

    def check(self, spark, files: EventFiles, out_dir: str) -> dict:
        from reactive_data_pipeline_spark.streaming.reactive import read_ticker_meta

        got = {tuple(r) for r in read_ticker_meta(spark, out_dir).collect()}
        want = files.expected_meta()
        ok = got == want
        if not ok:
            self._fail(f"ticker_meta differs from recomputation: {len(got ^ want)} rows")
        return {"ok": ok, "rows": len(got), "expected_rows": len(want)}

    def layer_metrics(self, spark, listener, phase, drain_s, start_s, warm_s) -> dict:
        rest = SparkRest(spark)
        stages = rest.stages()
        jobs = sorted(listener.jobs.values(), key=lambda j: j["jobId"])
        batches = [b for b in phase["batches"] if b["traced"]]
        per_batch_jobs, per_batch_tasks, coverage = [], [], []
        for b in batches:
            bid = self.tracer.add("micro-batch", b["start"], b["end"], None, batch=b["batch"])
            t, part_ids = b["start"], {}
            for name in PARTS:
                d = b["ms"].get(name, 0) / 1000.0
                part_ids[name] = (self.tracer.add(name, t, t + d, bid), t, t + d)
                t += d
            coverage.append(sum(b["ms"].get(n, 0) for n in PARTS) / max(1, b["ms"]["triggerExecution"]))
            mine = [j for j in jobs if b["start"] <= spark_time(j["submissionTime"]) <= b["end"]]
            ntasks = 0
            for j in mine:
                js = spark_time(j["submissionTime"])
                parent = next((pid for pid, s, e in part_ids.values() if s <= js <= e), bid)
                self.tracer.add("job", js, spark_time(j["completionTime"]) if j.get("completionTime") else js,
                                parent, job=j["jobId"])
                ntasks += sum(s["numCompleteTasks"] for (sid, _a), s in stages.items() if sid in j["stageIds"])
            per_batch_jobs.append(len(mine))
            per_batch_tasks.append(ntasks)

        def part(*names):
            return median([sum(b["ms"].get(n, 0) for n in names) for b in batches])

        untraced, traced = median(phase["fresh_untraced"]), median(phase["fresh_traced"])
        return {
            "session.start_s": start_s,
            "session.warmup_s": warm_s,
            "streaming.freshness_p90_s": nearest_rank(phase["fresh_untraced"], 0.90),
            "streaming.trigger_ms_p50": part("triggerExecution"),
            "streaming.add_batch_ms_p50": part("addBatch"),
            "streaming.commit_ms_p50": part("walCommit", "commitOffsets"),
            "streaming.planning_ms_p50": part("queryPlanning"),
            "streaming.parts_gap_ms_p50": median(
                [b["ms"]["triggerExecution"] - sum(b["ms"].get(n, 0) for n in PARTS) for b in batches]),
            "streaming.jobs_per_batch": median(per_batch_jobs),
            "streaming.tasks_per_batch": median(per_batch_tasks),
            "streaming.state_rows": float(max(b["state_rows"] for b in batches)),
            "streaming.state_mem_mb": max(b["state_mb"] for b in batches),
            "streaming.backlog_files_max": float(phase["backlog_max"]),
            "streaming.catchup_events_per_s": BACKLOG_FILES * EVENTS_PER_FILE / drain_s,
            "sources.listing_ms_p50": part("latestOffset", "getBatch"),
            "sink.files_per_batch": median([b["sink_files"] for b in batches]),
            "sink.bytes_per_batch": median([b["sink_bytes"] for b in batches]),
            "generator.late_ms_max": phase["late_ms_max"],
            "trace.overhead_frac": traced / untraced - 1.0 if untraced else 0.0,
            "trace.span_coverage": median(coverage),
        }
