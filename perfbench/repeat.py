"""Repeat ``run.py`` over several seeds and summarise the spread.

  python3 perfbench/repeat.py --workload sync_drops --seeds 1-10 [--trace 1]

For every metric of the result lines it prints the median, the first and
third quartiles (``statistics.quantiles(values, n=4)``) and their
distance as a share of the median; the ungated figures a run prints as
``# name = value unit (not gated)`` are summarised the same way. With
``--trace 1`` each seed is run untraced and then traced, and the tracing
overhead is reported as the traced median of ``ops.op_s`` over the
untraced median of ``op_s``, minus one. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
_UNGATED = re.compile(r"^# (\S+) = (\S+) (\S+) \(not gated\)$")


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        capture_output=True, text=True, check=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    for line in lines[:-1]:
        m = _UNGATED.match(line)
        if m:
            res["metrics"][m[1]] = {"value": float(m[2]), "unit": m[3]}
    return res


def spread(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    runs: dict[int, list[dict]] = {0: [], 1: []}
    for seed in seeds(args.seeds):
        for trace in (0, 1) if args.trace else (0,):
            res = one(args.workload, seed, args.seconds, trace)
            runs[trace].append(res)
            print(json.dumps({"seed": seed, "trace": trace, **res}),
                  flush=True)
    for trace, results in runs.items():
        if not results:
            continue
        print(f"# {args.workload} trace={trace} runs={len(results)} "
              f"failed_ops={sum(r['failed'] for r in results)}")
        for name in results[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in results]
            if len(vals) < 2:
                continue
            med, q1, q3, share = spread(vals)
            print(f"#   {name:42s} median {med:12.5g}  q1 {q1:12.5g}  "
                  f"q3 {q3:12.5g}  iqr/median {share:.3f}")
    if runs[1]:
        plain = statistics.median(r["metrics"]["op_s"]["value"] for r in runs[0])
        traced = statistics.median(
            r["metrics"]["ops.op_s"]["value"] for r in runs[1])
        print(f"# tracing overhead on op_s: {traced / plain - 1:+.3f} "
              f"({traced:.3f} s traced vs {plain:.3f} s untraced)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
