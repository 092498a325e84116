#!/usr/bin/env python3
"""Tracing overhead and self time per layer, from two run records.

    python3 themisbench/report.py .themisbench_out/serve-s7-t0.json \\
        .themisbench_out/serve-s7-t1.json

The first record is an untraced run and the second a traced run of the
same workload and seed. For each end-to-end metric the report prints the
untraced value, the traced value and the overhead (traced minus
untraced). It then prints the traced run's self time per span name.
"""

from __future__ import annotations

import json
import sys


def main(untraced_path: str, traced_path: str) -> None:
    with open(untraced_path) as fh:
        plain = json.load(fh)
    with open(traced_path) as fh:
        traced = json.load(fh)
    if (plain["workload"], plain["seed"]) != (traced["workload"], traced["seed"]):
        sys.exit("the two records are not the same workload and seed")
    print(f"{traced['workload']} seed {traced['seed']}: tracing overhead")
    print(f"  {'metric':28s} {'untraced':>12s} {'traced':>12s} {'overhead':>12s}")
    for name, v in plain["end_to_end"].items():
        t = traced["end_to_end"].get(name)
        if t is not None:
            print(f"  {name:28s} {v:12.4f} {t:12.4f} {t - v:+12.4f}")
    print("self time per layer (s)")
    for name, sec in sorted(traced["self_time_s"].items(), key=lambda kv: -kv[1]):
        print(f"  {name:40s} {sec:10.4f}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
