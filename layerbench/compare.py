"""Compare two benchmark records and report which layer moved.

    python3 layerbench/compare.py BEFORE.json AFTER.json

Records are the JSON files ``run.py`` writes under
``.layerbench_work/records/``. Prints every metric both records share with
its change, largest relative change first, then the per-query times of a
``queries`` record, then each plan fingerprint that differs (a query whose
executed plan changed, including the eager SQL executions of its job
group).
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys


def load(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def fingerprints(rec: dict) -> dict[str, str]:
    res = rec.get("result", {})
    out = {f"video:{k}": v for k, v in res.get("layers", {}).get("fingerprints", {}).items()}
    for name, q in res.get("per_query", {}).items():
        out[name] = q["layers"]["plan_fingerprint"]
    return out


def rel(a: float, b: float) -> float:
    if a == b:
        return 0.0
    return (b - a) / abs(a) if a else float("inf")


def metric_rows(a: dict, b: dict) -> list[tuple]:
    ma, mb = a["summary"]["metrics"], b["summary"]["metrics"]
    rows = [(k, ma[k]["value"], mb[k]["value"], ma[k]["unit"]) for k in ma if k in mb]
    return sorted(rows, key=lambda r: -abs(rel(r[1], r[2])))


def query_rows(a: dict, b: dict) -> list[tuple]:
    qa, qb = a["result"].get("per_query", {}), b["result"].get("per_query", {})
    rows = []
    for name in sorted(set(qa) & set(qb)):
        for key in ("s", "build_s", "plan_s"):
            va, vb = statistics.median(qa[name][key]), statistics.median(qb[name][key])
            rows.append((f"{name}.{key}", va, vb, "s"))
    return sorted(rows, key=lambda r: -abs(r[2] - r[1]))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("before")
    p.add_argument("after")
    p.add_argument("--top", type=int, default=20, help="per-query rows to show")
    args = p.parse_args(argv)
    a, b = load(args.before), load(args.after)
    for side, rec in (("before", a), ("after", b)):
        prov = rec["provenance"]["start"]
        print(
            f"{side}: {rec['args']['workload']} seed {rec['args']['seed']} trace {rec['args']['trace']}"
            f" source {prov['source_sha256']} commit {prov['commit']} load {prov['loadavg'][0]:.2f}"
        )
    print(f"\n{'metric':40s} {'before':>14s} {'after':>14s} {'change':>9s}")
    for name, va, vb, unit in metric_rows(a, b):
        print(f"{name:40s} {va:14.4f} {vb:14.4f} {100 * rel(va, vb):+8.1f}%  {unit}")
    rows = query_rows(a, b)
    if rows:
        print(f"\n{'per-query median (largest absolute change)':40s}")
        for name, va, vb, unit in rows[: args.top]:
            print(f"{name:40s} {va:14.4f} {vb:14.4f} {100 * rel(va, vb):+8.1f}%  {unit}")
    fa, fb = fingerprints(a), fingerprints(b)
    changed = sorted(k for k in set(fa) & set(fb) if fa[k] != fb[k])
    print(f"\nplan fingerprints: {len(changed)} changed of {len(set(fa) & set(fb))} compared")
    for k in changed:
        print(f"  {k}: {fa[k]} -> {fb[k]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
