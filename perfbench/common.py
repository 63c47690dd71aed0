"""Shared pieces of the benchmark: the run sandbox, session start, the
memory sampler, span recording and the Spark REST reader."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
CACHE = os.path.join(BENCH_DIR, ".cache")

#: Fixed resource envelope (also stated in README.md): all host cores,
#: a driver heap well under host RAM. The heap is pinned (-Xms) with a
#: fixed young generation (-Xmn): left to G1's sizing heuristics, the
#: peak PSS of identical runs varied by ~15%, pinned by ~2%.
DRIVER_MEMORY = "2g"
JVM_HEAP_OPTS = f"-Xms{DRIVER_MEMORY} -Xmn512m"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def sandbox_env() -> None:
    """Point every scratch path (Python temp files, Spark local dirs, the
    JVM temp dir, the SQL warehouse) inside the checkout's work dir.
    JAVA_TOOL_OPTIONS also reaches Spark's launcher JVM; without
    -UsePerfData every JVM would write its perf file under /tmp."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_session(app: str):
    """``session.get_spark`` on ``local[cores]`` with the fixed envelope."""
    from reactive_data_pipeline_spark import get_spark

    spark = get_spark(
        app,
        master=f"local[{cores()}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": JVM_HEAP_OPTS,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Close the py4j gateway and wait for the driver JVM to exit (it
    exits when its stdin closes); ``spark.stop()`` leaves it running."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=60)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def nearest_rank(xs, q: float) -> float:
    """The q-quantile by nearest rank (a value that was observed)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return float(s[max(0, math.ceil(q * len(s)) - 1)])


class PssSampler:
    """Samples the summed PSS of the driver JVM and every process under
    it (the PySpark daemon and its Python workers) at a fixed interval.
    Reading the JVM's ``smaps_rollup`` took 30-83 ms on a 4-core host and
    walks its page tables under the JVM's mmap lock, so the interval is
    kept at 1 s to keep the sampler from perturbing what it measures."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._pid: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="pss-sampler", daemon=True)

    def attach(self, spark) -> None:
        self._pid = spark.sparkContext._gateway.proc.pid
        if not self._thread.is_alive():
            self._thread.start()

    @staticmethod
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

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        if self._pid is None:
            return
        kids = self._children()
        todo, total = [self._pid], 0
        while todo:
            pid = todo.pop()
            total += self._pss_kb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def stop(self) -> float:
        """Stop sampling (idempotent); returns the peak in MB."""
        if not self._stop.is_set():
            self._stop.set()
            if self._thread.is_alive():
                self._thread.join(timeout=5)
            self.sample()
        return self.peak_kb / 1024.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span store; written out once when the run ends."""

    def __init__(self):
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.spans.append(Span(name, start, end, parent, attrs))
        return len(self.spans) - 1

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name, "start": s.start, "end": s.end,
                                    "parent": s.parent, **s.attrs}) + "\n")


def union_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_time(s: str) -> float:
    """Epoch seconds from a status-API timestamp like
    ``2026-10-17T10:00:00.123GMT``."""
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


class SparkRest:
    """Reads jobs and stages from the Spark driver's status REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self.get("/jobs")

    def stages(self) -> dict[tuple[int, int], dict]:
        return {(s["stageId"], s["attemptId"]): s for s in self.get("/stages")}

    def task_skew(self, stage: dict) -> float:
        """Max over median task run time of one stage (1.0 when even)."""
        if stage.get("numCompleteTasks", 0) < 2:
            return 1.0
        q = self.get(f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return mx / med if med > 0 else 1.0


def stage_metrics(rest: SparkRest, stages: list[dict], wall_s: float, ncores: int) -> dict[str, float]:
    """The seven per-layer stage fields over a set of completed stages;
    ``wall_s`` is the layer's execute time in the pass."""
    done = [s for s in stages if s.get("status") == "COMPLETE"]
    exec_s = sum(s["executorRunTime"] for s in done) / 1000.0
    return {
        "exec_s": exec_s,
        "tasks": float(sum(s["numCompleteTasks"] for s in done)),
        "shuffle_mb": sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in done) / 1e6,
        "spill_mb": sum(s["diskBytesSpilled"] for s in done) / 1e6,
        "gc_s": sum(s["jvmGcTime"] for s in done) / 1000.0,
        "core_busy_frac": exec_s / (wall_s * ncores) if wall_s > 0 else 0.0,
        "stage_skew_max": max((rest.task_skew(s) for s in done), default=0.0),
    }


def host_fingerprint(spark) -> dict:
    """The repo's own host probes (bench.load_probe / latency_probe),
    stored with each run so an outlier run can be attributed. They never
    normalize a metric."""
    import bench

    return {"probe_sec": round(bench.load_probe(spark, attempts=1), 4), **bench.latency_probe(spark)}
