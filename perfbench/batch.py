"""``catalog_batch``: a closed loop with one client over a fixed mix of
catalog queries (relational and LLM-corpus) on the fixed fixture.

Each pass clears the cache, then builds and runs every mix query once,
in an order the seed permutes per pass. A query runs the way
``bench.py::run_one`` runs it: a noop write, or a collect for LIMIT
plans. ``pass_s`` is the median wall time of a whole pass.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import time

from common import (SparkRest, Tracer, cores, host_fingerprint, median, nearest_rank,
                    spark_time, stage_metrics, start_session, union_s)
from tools.parity import TABLES, canon

#: Mix query -> the layer (package module) its seconds are charged to.
#: Each was picked for a pass time that is mostly executor time on the
#: fixture (see README.md); the driver-bound ones were left out.
MIX = {
    "q3_shipping_priority": "operators",
    "window_top3_orders_per_cust": "operators",
    "json_props_by_type": "functions",
    "text_stats": "functions",
    "dedup_exact_docs": "dedup",
    "knn_batch_cosine": "similarity",
}
LAYERS = ("operators", "dedup", "similarity", "functions")
MIN_PASSES = 3
#: Noop passes after the cold check pass; the passes right after a cold
#: pass still run 10-15% slow.
WARMUP_PASSES = 2


def digest(pdf) -> tuple[int, str]:
    """Row count and an order-insensitive SHA-256 of a result, over the
    rows as the repo's parity gate (``tools/parity.py::canon``)
    canonicalises them."""
    rows = sorted("\x1f".join(r) for r in canon(pdf).itertuples(index=False, name=None))
    return len(rows), hashlib.sha256("\x1e".join(rows).encode()).hexdigest()


def ensure_oracle(fx_dir: str) -> dict:
    """DuckDB oracle answers for the mix, computed once per fixture and
    kept beside it (the fixture never changes, so neither do they)."""
    from reactive_data_pipeline_spark.queries import QUERIES

    path = os.path.join(fx_dir, "oracle.json")
    known = {}
    if os.path.exists(path):
        with open(path) as f:
            known = json.load(f)
    missing = [n for n in MIX if n not in known]
    if missing:
        import duckdb

        con = duckdb.connect()
        con.sql("SET threads TO 2")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fx_dir}/{t}.parquet/**/*.parquet')"
                    if os.path.isdir(f"{fx_dir}/{t}.parquet")
                    else f"CREATE VIEW {t} AS SELECT * FROM '{fx_dir}/{t}.parquet'")
        for name in missing:
            rows, sha = digest(con.sql(QUERIES[name].oracle).df())
            known[name] = {"rows": rows, "hash": sha}
        con.close()
        with open(path + ".tmp", "w") as f:
            json.dump(known, f)
        os.replace(path + ".tmp", path)
    return known


def run_query(spark, name: str, fx_dir: str):
    """Build and execute one query as bench.py does; returns
    (build_start, build_end, exec_end)."""
    from reactive_data_pipeline_spark.queries import QUERIES

    t0 = time.time()
    df = QUERIES[name].build(spark, fx_dir)
    t1 = time.time()
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    if plan.startswith("GlobalLimit") or "TakeOrdered" in plan:
        df.collect()
    else:
        df.write.format("noop").mode("overwrite").save()
    return t0, t1, time.time()


def check_query(spark, name: str, fx_dir: str, oracle: dict) -> tuple[bool, dict]:
    from reactive_data_pipeline_spark.queries import QUERIES

    rows, sha = digest(QUERIES[name].build(spark, fx_dir).toPandas())
    want = oracle[name]
    ok = rows == want["rows"] and sha == want["hash"]
    return ok, {"rows": rows, "oracle_rows": want["rows"]}


def cached_blocks(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.numCachedPartitions()) for i in infos)


def unpersist_all(spark) -> None:
    """Drop every persisted RDD, including blocks ``clearCache`` does not
    own (local checkpoints an operator left behind)."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


class BatchRun:
    def __init__(self, seed: int, seconds: int, trace: bool, fx_dir: str, sampler):
        self.rng = random.Random(seed)
        self.seconds = seconds
        self.trace = trace
        self.fx_dir = fx_dir
        self.sampler = sampler
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.tracer = Tracer()

    def _order(self) -> list[str]:
        names = list(MIX)
        self.rng.shuffle(names)
        return names

    def one_pass(self, spark, tag: str | None = None) -> dict | None:
        """One pass over the mix; None if a query failed. With ``tag``,
        jobs are grouped per query and phase so the traced run can find
        them in the status API."""
        from reactive_data_pipeline_spark.operators import relational

        spark.catalog.clearCache()
        blocks = cached_blocks(spark)
        if blocks:
            # Counted in cache.blocks_at_pass_start, then dropped so no
            # pass runs on an earlier pass's storage.
            unpersist_all(spark)
            if cached_blocks(spark):
                self._fail(f"{cached_blocks(spark)} persisted blocks survive the pass cleanup")
        misses = relational.FREE_CHECKPOINT_MISSES
        sc = spark.sparkContext
        recs = []
        t0 = time.time()
        for name in self._order():
            self.attempted += 1
            try:
                if tag:
                    sc.setJobGroup(f"{tag}:{name}", name)
                recs.append((name, *run_query(spark, name, self.fx_dir)))
            except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
                self._fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                return None
        t1 = time.time()
        if tag:
            sc.setJobGroup("perfbench", "perfbench")
        if relational.FREE_CHECKPOINT_MISSES != misses:
            self._fail(f"{relational.FREE_CHECKPOINT_MISSES - misses} new checkpoint misses in a pass")
        return {"start": t0, "end": t1, "wall": t1 - t0, "queries": recs, "blocks": blocks,
                "misses": relational.FREE_CHECKPOINT_MISSES - misses}

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    def check_pass(self, spark, oracle: dict) -> dict:
        out = {}
        for name in self._order():
            self.attempted += 1
            try:
                ok, info = check_query(spark, name, self.fx_dir, oracle)
            except Exception as e:  # noqa: BLE001
                ok, info = False, {"error": f"{type(e).__name__}: {str(e)[:200]}"}
            out[name] = {"ok": ok, **info}
            if not ok:
                self._fail(f"output check {name}: {info}")
        return out

    def timed_passes(self, spark) -> tuple[list[dict], list[dict]]:
        """Untraced passes for ``seconds`` (at least MIN_PASSES). A traced
        run interleaves untraced and traced passes in ABBA order for twice
        as long, so a warm-up trend cannot pass for tracing overhead."""
        passes, traced = [], []
        t0 = time.time()
        budget = self.seconds * (2 if self.trace else 1)
        while (len(passes) < MIN_PASSES or (self.trace and len(traced) < MIN_PASSES)
               or time.time() - t0 < budget):
            if self.trace and (len(passes) + len(traced)) % 4 in (1, 2):
                p, dest = self.one_pass(spark, f"pb{len(traced)}"), traced
            else:
                p, dest = self.one_pass(spark), passes
            if p is None:
                break
            dest.append(p)
        return passes, traced

    def run(self, clock0: float, excluded_s: float) -> tuple[dict, dict, dict]:
        oracle_t = time.time()
        oracle = ensure_oracle(self.fx_dir)
        excluded_s += time.time() - oracle_t
        t = time.time()
        spark = start_session("perfbench-batch")
        self.sampler.attach(spark)
        start_s = time.time() - t
        tw = time.time()
        checks = self.check_pass(spark, oracle)
        for _ in range(WARMUP_PASSES):
            self.one_pass(spark)
        warm_s = time.time() - tw
        setup_s = time.time() - clock0 - excluded_s
        passes, traced = self.timed_passes(spark)
        peak_mb = self.sampler.stop()
        fingerprint = host_fingerprint(spark)
        layer = self.layer_metrics(spark, passes, traced, start_s, warm_s) if self.trace else {}
        spark.stop()
        e2e = {**self.e2e(passes, setup_s), "peak_pss_mb": peak_mb}
        detail = {"setup_s": setup_s, "session_start_s": start_s, "warmup_s": warm_s,
                  "pass_s": [p["wall"] for p in passes], "checks": checks,
                  "fingerprint": fingerprint, "errors": self.errors}
        return e2e, layer, detail

    @staticmethod
    def per_query(passes: list[dict]) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for p in passes:
            for name, t0, _t1, t2 in p["queries"]:
                out.setdefault(name, []).append(t2 - t0)
        return out

    def e2e(self, passes: list[dict], setup_s: float) -> dict:
        """``latency_s`` is the geometric mean over the mix of each
        query's median time: unlike a median over the mix, it cannot jump
        from one query to another."""
        lat = [median(v) for v in self.per_query(passes).values()]
        return {
            "setup_s": setup_s,
            "pass_s": median([p["wall"] for p in passes]),
            "latency_s": math.exp(sum(math.log(x) for x in lat) / len(lat)),
        }

    def layer_metrics(self, spark, passes, traced, start_s, warm_s) -> dict:
        rest = SparkRest(spark)
        ncores = cores()
        jobs = rest.jobs()
        stages = rest.stages()
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup") or "", []).append(j)

        def stages_of(js):
            ids = {sid for j in js for sid in j["stageIds"]}
            return [s for (sid, _a), s in stages.items() if sid in ids]

        per_pass: list[dict[str, float]] = []
        for i, p in enumerate(traced):
            pid = self.tracer.add("pass", p["start"], p["end"], None, index=i)
            m: dict[str, float] = {}
            layer_stages = {ly: [] for ly in LAYERS}
            layer_wall = {ly: 0.0 for ly in LAYERS}
            layer_self = {ly: 0.0 for ly in LAYERS}
            build_jobs, build_s, all_stages = 0, 0.0, []
            for name, t0, t1, t2 in p["queries"]:
                qjobs = by_group.get(f"pb{i}:{name}", [])
                qid = self.tracer.add("query", t0, t2, pid, query=name, layer=MIX[name])
                self.tracer.add("build", t0, t1, qid)
                xid = self.tracer.add("execute", t1, t2, qid)
                spans = []
                for j in qjobs:
                    js, je = rest_interval(j)
                    spans.append((max(js, t0), min(je, t2)))
                    if js < t1:
                        build_jobs += 1
                    jid = self.tracer.add("job", js, je, qid if js < t1 else xid, job=j["jobId"])
                    for s in stages_of([j]):
                        if s.get("status") == "COMPLETE" and s.get("submissionTime"):
                            self.tracer.add("stage", spark_time(s["submissionTime"]),
                                            spark_time(s["completionTime"]), jid, stage=s["stageId"],
                                            run_s=s["executorRunTime"] / 1000.0)
                layer_self[MIX[name]] += (t2 - t0) - union_s(spans)
                build_s += t1 - t0
                qst = stages_of(qjobs)
                layer_stages[MIX[name]].extend(qst)
                layer_wall[MIX[name]] += t2 - t0
                all_stages.extend(qst)
                m[f"query.{name}.exec_s"] = t2 - t1
            for ly in LAYERS:
                for f, v in stage_metrics(rest, layer_stages[ly], layer_wall[ly], ncores).items():
                    m[f"{ly}.{f}"] = v
                m[f"{ly}.self_s"] = layer_self[ly]
            scans = [s for s in all_stages if s.get("status") == "COMPLETE" and s["inputRecords"] > 0]
            m["sources.scan_mb"] = sum(s["inputBytes"] for s in scans) / 1e6
            m["sources.scan_rows"] = float(sum(s["inputRecords"] for s in scans))
            m["sources.scan_s"] = sum(s["executorRunTime"] for s in scans) / 1000.0
            m["queries.build_s"] = build_s
            m["queries.build_jobs"] = float(build_jobs)
            m["queries.self_s"] = sum(layer_self.values())
            m["trace.span_coverage"] = sum(t2 - t0 for _n, t0, _t1, t2 in p["queries"]) / p["wall"]
            per_pass.append(m)
        out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]} if per_pass else {}
        samples = [(name, s) for name, xs in self.per_query(passes).items() for s in xs]
        meds = {name: median(xs) for name, xs in self.per_query(passes).items()}
        out["queries.slowdown_p90"] = nearest_rank([s / meds[n] for n, s in samples], 0.9)
        out["queries.slowest_s"] = max(meds.values())
        out["operators.checkpoint_misses"] = float(sum(p["misses"] for p in passes + traced))
        out["cache.blocks_at_pass_start"] = median([p["blocks"] for p in passes + traced])
        out["session.start_s"] = start_s
        out["session.warmup_s"] = warm_s
        untraced, traced_wall = median([p["wall"] for p in passes]), median([p["wall"] for p in traced])
        out["trace.overhead_frac"] = traced_wall / untraced - 1.0 if untraced else 0.0
        return out


def rest_interval(job: dict) -> tuple[float, float]:
    s = spark_time(job["submissionTime"])
    e = spark_time(job["completionTime"]) if job.get("completionTime") else s
    return s, e
