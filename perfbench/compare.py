#!/usr/bin/env python3
"""Compare two sets of benchmark records, workload by workload.

    python3 perfbench/compare.py --base A.json [A2.json ...] --head B.json [...]

Records are the files `perfbench/run.py` leaves in `.perfbench/results/`.
For every end-to-end metric in BENCHMARK.json, prints each side's median
and quartiles over its records, the head/base ratio, and whether the
head is worse than the base by more than the metric's bound. Also checks,
on each side, that runs of one `kgx_build` seed built bundles with the
same content digest. Refuses to compare records cut on different CPU
counts: the numbers are only comparable on the same machine shape. Exits
1 if any metric regressed beyond its bound or a build was not
deterministic, 2 if the records cannot be compared.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _nondeterministic(records: list[dict]) -> list[tuple[str, int]]:
    """(workload, seed) pairs whose runs built bundles that differ."""
    digests: dict[tuple[str, int], set] = {}
    for r in records:
        if r.get("bundle_digest") is not None:
            digests.setdefault((r["workload"], r["seed"]), set()).add(r["bundle_digest"])
    return sorted(k for k, v in digests.items() if len(v) > 1)


def _load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as fh:
            rec = json.load(fh)
        if rec.get("trace"):
            continue  # traced runs carry per-layer numbers, not end-to-end ones
        out.append(rec)
    return out


def _quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q = statistics.quantiles(vals, n=4)
    return q[0], statistics.median(vals), q[2]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--head", nargs="+", required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    base, head = _load(args.base), _load(args.head)
    shapes = {(r["stamp"]["nproc"], r["stamp"]["SPARK_GRAFT_CPUS"]) for r in base + head}
    if len(shapes) != 1:
        print(f"refusing to compare records from different CPU counts: {sorted(shapes)}",
              file=sys.stderr)
        return 2
    regressed = False
    for side, records in (("base", base), ("head", head)):
        for workload, seed in _nondeterministic(records):
            print(f"{side}: {workload} seed {seed} built different bundles  NONDETERMINISTIC")
            regressed = True
    for workload in sorted({r["workload"] for r in base} & {r["workload"] for r in head}):
        b = [r for r in base if r["workload"] == workload]
        h = [r for r in head if r["workload"] == workload]
        print(f"{workload}  (base n={len(b)}, head n={len(h)})")
        for m in metrics:
            bq = _quartiles([r[m["name"]] for r in b])
            hq = _quartiles([r[m["name"]] for r in h])
            ratio = hq[1] / bq[1]
            worse = ratio - 1 if m["better"] == "lower" else 1 - ratio
            verdict = "REGRESSED" if worse > m["bound"] else "ok"
            regressed |= verdict != "ok"
            print(
                f"  {m['name']:12s} base {bq[1]:10.3f} [{bq[0]:.3f}, {bq[2]:.3f}]"
                f"  head {hq[1]:10.3f} [{hq[0]:.3f}, {hq[2]:.3f}]"
                f"  head/base {ratio:.3f}  bound {m['bound']}  {verdict}"
            )
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
