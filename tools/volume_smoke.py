"""Volume smoke: run every catalog query Spark-side at 10x/40x volume.

The oracle parity sweep proves CORRECTNESS at sf0.01; the bench set
proves THROUGHPUT at volume for 25 queries. This tool covers the gap
the round-6 volume axis exposed: volume-dependent DEFECTS (heap
exhaustion, key-space saturation, spill blowups) in the ~200 catalog
queries that are neither benched nor oracle-run at scale. It executes
every registered query against a scaled fixture (tools/scale_data.py
output), drains it with a count-style collect, and reports
seconds/rows per query - failures and timeouts are the findings.

No DuckDB side: most oracles are intentionally unscalable twins
(exact all-pairs ground truth of linear paths) and correctness at
volume is pinned by determinism + the sf0.01 sweep; this measures
that the SPARK plans survive the volume.

Skips (by design, each a check-scale-only construction):

* the brute-force/recall-contract legs - their ground-truth side is
  O(N^2) on purpose (`*_recall_contract`, `embedding_neardup_pairs`);
* `semdedup_cluster_pairs` - O(N^2/k) with k fixed at the check-scale
  value; deployments scale k ~ N (see similarity/centroid.py).

A watchdog cancels a query's job group after --timeout seconds
(default 120) so one runaway cannot eat the sweep; a timeout is
reported as TIMEOUT, which at 10x volume is itself a scale defect to
investigate.

Usage: python tools/volume_smoke.py [sf_dir] [--timeout N]
           [--recycle N] [name ...]

``--recycle N`` restarts the session every N executed queries: a
long-lived session that has built 100+ heavy queries accumulates
cached blocks and GC pressure, inflating mid-sweep timings 2-3x vs a
fresh session (round-9 measurement; same mechanism as SCALING.md's
contaminated-window note). For watchdog-boundary heavies, either
recycle or re-time solo before calling something a regression.
"""

from __future__ import annotations

import sys
import threading
import time

sys.path.insert(0, "/root/repo")

from reactive_data_pipeline_spark import get_spark  # noqa: E402
from reactive_data_pipeline_spark.queries import QUERIES  # noqa: E402

#: check-scale-only constructions (quadratic by design), with reasons.
SKIP: dict[str, str] = {
    "embedding_neardup_pairs": "exact all-pairs ground truth (O(N^2) by design)",
    "minhash_recall_contract": "exact all-pairs Jaccard ground-truth leg",
    "simhash_recall_contract": "exact all-pairs hamming ground-truth leg",
    "embedding_recall_contract": "exact all-pairs cosine ground-truth leg",
    "semdedup_cluster_pairs": "O(N^2/k) with check-scale fixed k; deployments scale k ~ N",
}

#: Known output-bound heavies: queries whose sf1 runtime is dominated
#: by a LEGITIMATELY huge result (not a plan defect) and sits too close
#: to the default watchdog to survive a long sweep's accumulated-JVM
#: drag (measured: ngram_jaccard_pairs emits 11.58M real pairs in
#: 87-106 s idle/fresh but hit 120.1 s inside a 228-query session).
#: Values are per-query watchdogs, maxed with --timeout so a larger
#: CLI value still wins.
HEAVY_TIMEOUT: dict[str, float] = {
    # sf4 reference points (SCALING.md round-7 table) + headroom for
    # accumulated-JVM drag in a long sweep; --timeout still wins if
    # larger. These are output-bound or iterative-by-nature, not plan
    # defects - each has a documented decomposition.
    # Solo fresh-session sf4 figures (round 9); mid-sweep the same
    # queries run 1.5-3x slower from accumulated-session drag, so the
    # budgets carry that headroom (or sweep with --recycle).
    "ngram_jaccard_pairs": 900.0,       # 487s solo: 174M real pairs, output-bound
    "ngram3_jaccard_pairs": 450.0,      # 106s solo (r11): same family; sat at the
                                        # default 300s and died mid-sweep right
                                        # after the 174M-row monster (r11 sweep)
    "neardup_groups_connected": 1500.0, # 505s (r9) / 543s (r11) solo: exact-pairs
                                        # leg dominates; mid-sweep drag hit 1197s
    "kcore_peel_rounds": 700.0,         # iterative peel; 219s solo (r11,
                                        # DISK_ONLY edge checkpoints) / 301s (r9)
    "triangle_count_copurchase": 500.0, # 243s (r9) / 223s (r7)
    "cross_source_dup_matrix": 420.0,   # 135s solo (r9); exact-pairs based
    "streaming_neardup_contract": 600.0,  # 248s solo: runs the exact ground-truth leg by design
    "minhash_neardup_pairs": 300.0,     # candidate mass ~ copies/class^2
}


def _fresh_session():
    spark = get_spark()
    return spark, spark.sparkContext


def drop_leftover_blocks(sc) -> int:
    """Unpersist every persistent RDD (round-10 session hygiene).

    26 of the 230 catalog queries legitimately persist/localCheckpoint
    frames their RESULT depends on; once the sweep has drained a
    query, those blocks are dead weight, but nothing inside the query
    can know that. Leaked deserialized blocks occupy the unified pool
    and squeeze later heavies' execution memory into spill - the
    measured mid-sweep drag mechanism (ENGINEERING.md round-10). Safe
    between sweep queries by construction: no frame is reused across
    iterations. Returns the number of RDDs dropped."""
    n = 0
    try:
        it = sc._jsc.sc().getPersistentRDDs().valuesIterator()
        while it.hasNext():
            it.next().unpersist(False)
            n += 1
    except Exception:  # noqa: BLE001 - hygiene must never kill the sweep
        pass
    try:
        # Unload streaming state-store providers too: each STATEFUL
        # stream leaves its providers loaded after query.stop(), and
        # every provider keeps a ChecksumCheckpointFileManager thread
        # pool alive - measured 128 threads per stateful query, 1376
        # driver threads after 8 of them (round-10 census; thread
        # count inflates GC root scans and scheduler pressure).
        # Providers reload transparently on the next streaming query;
        # safe between sweep queries because no stream is running.
        sc._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:  # noqa: BLE001
        pass
    return n


def run(sf_dir: str, names: list[str], timeout: float, recycle: int = 0) -> int:
    spark, sc = _fresh_session()
    failures = 0
    executed = 0
    for i, name in enumerate(names):
        if name in SKIP:
            print(f"skip {name}: {SKIP[name]}")
            continue
        # Session hygiene (round-9 sweep finding, same mechanism as the
        # SCALING.md contaminated-window note): a session that has built
        # 100+ heavy queries accumulates cached blocks/GC pressure and
        # mid-sweep timings inflate 2-3x vs fresh (cross_source_dup_matrix
        # 300s TIMEOUT mid-sweep vs 135s solo). --recycle N bounds the drag.
        if recycle and executed and executed % recycle == 0:
            print(f"(recycling session after {executed} queries)")
            try:
                spark.stop()
            except Exception:
                pass
            spark, sc = _fresh_session()
        executed += 1
        group = f"smoke-{name}"
        sc.setJobGroup(group, name, interruptOnCancel=True)
        done = threading.Event()
        q_timeout = max(timeout, HEAVY_TIMEOUT.get(name, 0.0))

        def watchdog(sc=sc, group=group, q_timeout=q_timeout) -> None:
            if not done.wait(q_timeout):
                sc.cancelJobGroup(group)

        w = threading.Thread(target=watchdog, daemon=True)
        w.start()
        t0 = time.time()
        try:
            df = QUERIES[name].build(spark, sf_dir)
            n = df.count()
            dt = time.time() - t0
            flag = " SLOW" if dt > q_timeout / 2 else ""
            print(f"ok   {name}: {n} rows ({dt:.1f}s){flag} [{i + 1}/{len(names)}]")
        except Exception as e:  # noqa: BLE001 - report and continue
            dt = time.time() - t0
            kind = "TIMEOUT" if dt >= q_timeout else "FAIL"
            first = str(e).splitlines()[0][:160] if str(e) else type(e).__name__
            print(f"{kind} {name} ({dt:.1f}s): {first}")
            failures += 1
            done.set()
            # A query that dies hard (OOM, GC-locker death) can take the
            # whole JVM with it, turning every later query into an
            # instant false FAIL on the dead context - probe and restart
            # so one casualty cannot poison the sweep.
            try:
                spark.range(1).count()
            except Exception:
                print("     (SparkContext dead - restarting session)")
                try:
                    spark.stop()
                except Exception:
                    pass
                spark, sc = _fresh_session()
        finally:
            done.set()
            try:
                # reset the group (PySpark has no clearJobGroup)
                sc.setJobGroup("smoke-idle", "between queries")
            except Exception:
                pass
            dropped = drop_leftover_blocks(sc)
            if dropped:
                print(f"     (dropped {dropped} leftover persisted RDDs)")
    return failures


def main() -> None:
    args = [a for a in sys.argv[1:]]
    timeout = 120.0
    if "--timeout" in args:
        i = args.index("--timeout")
        timeout = float(args[i + 1])
        del args[i : i + 2]
    recycle = 0
    if "--recycle" in args:
        i = args.index("--recycle")
        recycle = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0] if args else "/tmp/spark_graft_scale/sf1"
    names = args[1:] or list(QUERIES)
    failures = run(sf_dir, names, timeout, recycle)
    print(f"\n{len(names) - failures}/{len(names)} completed "
          f"(skipped {sum(1 for n in names if n in SKIP)})")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
