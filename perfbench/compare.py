#!/usr/bin/env python3
"""Compares two benchmark results (perfbench/out/results/*.json).

    python3 perfbench/compare.py BASE.json NEW.json

Prints each metric of both runs and NEW/BASE. Refuses, with exit code 2
and no numbers, when the two runs were not measured on the same setup:
every fingerprint field must match except the commit and source digest,
which are what a comparison compares.
"""
import json
import sys

VARYING = ("git_commit", "source_digest")


def setup_diff(a, b):
    """Fingerprint fields (other than the code's identity) that differ."""
    fa, fb = a["fingerprint"], b["fingerprint"]
    return sorted(k for k in set(fa) | set(fb)
                  if k not in VARYING and fa.get(k) != fb.get(k))


def compare(a, b):
    diff = setup_diff(a, b)
    if diff:
        raise ValueError("results were measured on different setups: " + "; ".join(
            f"{k}: {a['fingerprint'].get(k)!r} vs {b['fingerprint'].get(k)!r}" for k in diff))
    rows = []
    for name, m in a["metrics"].items():
        if name in b["metrics"]:
            va, vb = m["value"], b["metrics"][name]["value"]
            rows.append((name, m["unit"], va, vb, vb / va if va else float("nan")))
    return rows


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[1]) as fa, open(argv[2]) as fb:
        a, b = json.load(fa), json.load(fb)
    try:
        rows = compare(a, b)
    except ValueError as e:
        print(f"compare: {e}", file=sys.stderr)
        return 2
    for name, unit, va, vb, r in rows:
        print(f"{name:36s} {unit:6s} {va:14.6g} {vb:14.6g}  x{r:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
