"""Dump .explain("formatted") for named queries into plans/<round>/ files.

Usage:
    python tools/plan_snapshot.py --round r12 --suffix before query [...]

Writes plans/<round>/<query>_<suffix>.txt for each query (sf0.01 inputs —
plan shape, not data volume, is what the snapshot records).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from streamprocessing_spark.plans.explain import formatted_plan  # noqa: E402
from streamprocessing_spark.registry import all_specs  # noqa: E402
from streamprocessing_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--round", required=True, help="plans/ subdirectory, e.g. r12")
    ap.add_argument("--out-root", default=None, help="repo to write plans under")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    out_root = Path(args.out_root) if args.out_root else Path(__file__).resolve().parent.parent
    out_dir = out_root / "plans" / args.round
    out_dir.mkdir(parents=True, exist_ok=True)
    specs = all_specs()
    spark = get_spark("plan-snapshot")
    for name in args.queries:
        df = specs[name].fn(spark, args.sf)
        path = out_dir / f"{name}_{args.suffix}.txt"
        path.write_text(formatted_plan(df))
        print(f"wrote {path}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
