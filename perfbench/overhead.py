"""Tracing overhead: the same workload and seed, untraced and then traced.

    python3 perfbench/overhead.py --workload listener --seed 1 --seconds 30

Runs ``run.py`` twice, one after the other, and prints each end-to-end
metric of the untraced run beside the traced run's (both runs print them on
their ``# end_to_end`` line) with the difference as a share of the untraced
value. That difference is the cost of recording the spans.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

from run import END_TO_END

HERE = os.path.dirname(os.path.abspath(__file__))


def end_to_end(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """``{name: value}`` from one run's ``# end_to_end`` line, whose
    tokens read ``name=<value><unit>``."""
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "run.py"),
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", str(seconds),
            "--trace", str(trace),
        ],
        stdout=subprocess.PIPE,
        text=True,
        check=True,
    ).stdout
    line = next(l for l in out.splitlines() if l.startswith("# end_to_end "))
    values = dict(tok.split("=", 1) for tok in line.split()[2:])
    return {k: float(values[k].removesuffix(u)) for k, u in END_TO_END.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    off = end_to_end(args.workload, args.seed, args.seconds, 0)
    on = end_to_end(args.workload, args.seed, args.seconds, 1)
    print(f"{'metric':<16} {'untraced':>12} {'traced':>12} {'overhead':>9}")
    for name, unit in END_TO_END.items():
        a, b = off[name], on[name]
        print(f"{name:<16} {a:>12.4g} {b:>12.4g} {(b - a) / a:>+9.1%}  {unit}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
