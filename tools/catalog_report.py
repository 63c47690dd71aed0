"""Generate CATALOG.md: one row per registered query (name, check kind,
tags, bench flag, docstring summary). Run after adding queries:

    python tools/catalog_report.py > CATALOG.md
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from reactive_data_pipeline_spark.queries import QUERIES  # noqa: E402

#: Every rows-only (oracle=None) entry needs a one-line justification
#: here (round-6 verdict #2); the assertion below keeps the set exact,
#: so a new rows-only registration without a reason fails this report.
ROWS_ONLY_WHY: dict[str, str] = {
    # embedding_neardup_lsh - the last rows-only entry - carries an
    # exact oracle: its band keys are integer md5-plane dots that DuckDB
    # regenerates bit for bit, so signatures, banding, candidates and
    # verified cosines are all hash-checked. The catalog carries ZERO
    # rows-only entries; a new one needs a justification here.
}


def main() -> None:
    rows_only = {n for n, q in QUERIES.items() if q.oracle is None}
    if rows_only != set(ROWS_ONLY_WHY):
        raise RuntimeError(
            f"rows-only set changed: missing justification for "
            f"{sorted(rows_only - set(ROWS_ONLY_WHY))}, stale entries "
            f"{sorted(set(ROWS_ONLY_WHY) - rows_only)}"
        )
    n_oracle = sum(1 for q in QUERIES.values() if q.oracle is not None)
    print("# CATALOG — every registered query (auto-generated)\n")
    print(
        f"{len(QUERIES)} queries; {n_oracle} DuckDB-oracle value-hash checked, "
        f"{len(QUERIES) - n_oracle} rows-only (hash-/sketch-/UDF-specific). "
        "Regenerate with `python tools/catalog_report.py > CATALOG.md`.\n"
    )
    print("## Why the rows-only entries are rows-only\n")
    for name, why in ROWS_ONLY_WHY.items():
        print(f"- `{name}` — {why}")
    print()
    print("| query | check | bench | tags | summary |")
    print("|---|---|---|---|---|")
    for name, q in QUERIES.items():
        doc = (q.build.__wrapped__.__doc__ or q.build.__doc__ or "").strip()
        summary = " ".join(doc.split("\n\n")[0].split())
        if len(summary) > 110:
            summary = summary[:107] + "..."
        check = "oracle" if q.oracle is not None else "rows-only"
        bench = "yes" if q.bench else ""
        print(f"| `{name}` | {check} | {bench} | {', '.join(q.tags)} | {summary} |")


if __name__ == "__main__":
    main()
