#!/usr/bin/env python3
"""Recompute a BENCH_sf* artifact's host_factor from its own raw data.

The scale sweep (graft.ScaleBench) and the suite bench (graft.Bench)
embed every host-reference reading in the artifact (`host_ref.runs`) and
publish `host_factor` = median(readings) / anchor. In a graft.Profile or
ScaleBench line these sit in its `bench` section; extract that first.
When the recorded anchor is corrected (the r12 case: the first 100x
anchor was an unreproducible cache-warm isolated reading; anchors are
now defined as calm-window IN-SWEEP medians), this script re-derives the field from the artifact's own
readings instead of re-running a multi-hour sweep — the committed
artifact stays a pure function of (sweep raw data, recorded anchor).

Usage: recompute_host_factor.py <artifact.json> <anchor_seconds>

Rewrites the file in place, preserving the one-line JSON form.
"""
import json
import sys


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise SystemExit("artifact has no host_ref runs")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def main(path, anchor):
    anchor = float(anchor)
    d = json.load(open(path))
    runs = d["host_ref"]["runs"]
    d["host_factor"] = round(median(runs) / anchor, 3)
    with open(path, "w") as f:
        f.write(json.dumps(d, separators=(",", ":")) + "\n")
    print(f"{path}: host_factor = {d['host_factor']} "
          f"(median {round(median(runs), 3)} / anchor {anchor})")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    main(sys.argv[1], sys.argv[2])
