#!/usr/bin/env python3
"""Merge StreamBench run outputs into one committed STREAMBENCH artifact.

The bench prints one JSON object per section run: the base (non-scaled)
main emits a single object with the ingest/quality_gate/curation_gate/
moments/retrieval/retrieval_monitor sections, and each scaled mode emits its
own one-line object ({"metric":"stream_*_scaled", ...}). The committed
STREAMBENCH_r{N}.json is the base object with each scaled object grafted
in under a stable key (its "metric" discriminator dropped) — this script
IS that merge, so the artifact is regenerable by commands in the repo
instead of a by-hand step. Artifacts from before the base run dropped its
ksql_push section still carry that key; it passes through unchanged.

Section keys:
  stream_throughput_scaled                  -> scaled_ingest
  stream_retrieval_scaled (serving regime,
    small batch_rows)                       -> scaled_retrieval
  stream_retrieval_scaled (saturated regime,
    larger batch_rows, if a second run rode
    in the same file)                       -> scaled_retrieval_saturated
  stream_curation_scaled                    -> scaled_curation

Usage: merge_streambench.py <base.json> <scaled.jsonl> [out.json]

<base.json>    the base run's JSON object (possibly pretty-printed)
<scaled.jsonl> file holding the scaled runs' one-line objects (any order;
               non-JSON lines — sbt noise — are skipped)
Writes merged JSON to out.json (default: stdout).
"""
import json
import sys


def main(base_path, scaled_path, out_path=None):
    base = json.load(open(base_path))
    retrieval = []
    merged_any = False
    for line in open(scaled_path):
        line = line.strip()
        if not (line.startswith("{") and line.endswith("}")):
            continue
        try:
            obj = json.loads(line)
        except json.JSONDecodeError:
            continue
        metric = obj.pop("metric", None)
        if metric == "stream_throughput_scaled":
            base["scaled_ingest"] = obj
            merged_any = True
        elif metric == "stream_curation_scaled":
            base["scaled_curation"] = obj
            merged_any = True
        elif metric == "stream_retrieval_scaled":
            retrieval.append(obj)
            merged_any = True
    # serving regime uses the small per-batch feed; a second retrieval run
    # at a larger batch_rows is the deliberately saturated regime — equal
    # batch_rows would make the assignment input-order-dependent, so
    # refuse instead of silently committing a duplicate as "saturated"
    retrieval.sort(key=lambda o: o.get("batch_rows", 0))
    if retrieval:
        base["scaled_retrieval"] = retrieval[0]
    if len(retrieval) > 1:
        if retrieval[0].get("batch_rows") == retrieval[1].get("batch_rows"):
            sys.exit("two stream_retrieval_scaled runs with equal "
                     "batch_rows — serving vs saturated is ambiguous")
        base["scaled_retrieval_saturated"] = retrieval[1]
    if len(retrieval) > 2:
        sys.exit("more than two stream_retrieval_scaled runs — ambiguous")
    if not merged_any:
        sys.exit(f"no scaled sections found in {scaled_path}")
    text = json.dumps(base, indent=1)
    if out_path:
        open(out_path, "w").write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    main(*sys.argv[1:4])
