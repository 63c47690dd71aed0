"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Prints one JSON object as the last line
of stdout: ``correct``, ``attempted``, ``failed`` and ``metrics`` (every
end-to-end metric of BENCHMARK.json with ``--trace 0``, every per-layer
metric with ``--trace 1``). Run details (setup samples, output checks,
host fingerprint) and, for traced runs, the span log are written under
``perfbench/.work/results/``. Exits non-zero without a result when the
engine package is not importable from the checkout.
"""

from __future__ import annotations

import time

CLOCK0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import common  # noqa: E402

WORKLOADS = ("ticker_reactive", "catalog_batch")


def load_spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = load_spec()
    common.sandbox_env()
    try:
        import reactive_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"engine package not importable from {common.ROOT}: {e}", file=sys.stderr)
        return 2

    sampler = common.PssSampler()
    excluded = 0.0
    if args.workload == "catalog_batch":
        import fixture
        from batch import BatchRun

        t = time.time()
        fx_dir = os.path.join(common.CACHE, f"fixture-v{fixture.VERSION}-s{fixture.SCALE}")
        fixture.ensure(fx_dir)
        excluded = time.time() - t
        run = BatchRun(args.seed, args.seconds, bool(args.trace), fx_dir, sampler)
    else:
        from ticker import TickerRun

        run = TickerRun(args.seed, args.seconds, bool(args.trace), sampler)
    try:
        e2e, layer, detail = run.run(CLOCK0, excluded)
    finally:
        sampler.stop()
        common.stop_jvm()

    if args.trace:
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    out_dir = os.path.join(common.WORK, "results")
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump({"args": vars(args), "e2e": e2e, "per_layer": layer, "detail": detail}, f, indent=1,
                  default=str)
    if args.trace:
        run.tracer.dump(os.path.join(out_dir, stem + ".spans.jsonl"))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
