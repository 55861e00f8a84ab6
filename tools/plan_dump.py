"""Dump explain('formatted') for arbitrary registered keys.

Usage:
    python tools/plan_dump.py <outdir> <suffix> <key> [key ...]

Writes <outdir>/<key>_<suffix>.txt for each key, built over the fixture
tree named by ``SF_DIR`` (default: the sf0.1 tree). Construction-time jobs
(codebook collects, layout ensures, plan asserts) run as usual; the query
itself is NOT executed.
"""

from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from token_burn_listener_spark.operators.storage import _plan  # noqa: E402
from token_burn_listener_spark.registry import QUERIES, load_all_modules  # noqa: E402
from token_burn_listener_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    outdir, suffix, *keys = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)
    load_all_modules()
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    for key in keys:
        with open(os.path.join(outdir, f"{key}_{suffix}.txt"), "w") as f:
            f.write(_plan(QUERIES[key](spark, SF_DIR)))
        print(f"dumped {key}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
