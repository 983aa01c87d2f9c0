"""Quick per-query timer for optimization work — bench.py's timed passes
(noop sink, rep-major, every pass starting with no shared views) over an
arbitrary subset, in the order given. A query prices a shared view's
build only if no earlier query on the command line built it, so list a
view's builder before a consumer to time the consumer's marginal cost.

Usage:
    python tools/time_queries.py [--sf DIR] [--reps N] query [query ...]

Prints one line per query: median [min, max] over N reps, then the
generated-code classes it compiled in each rep. Past the first rep a
query should compile nothing; a non-zero count there means Spark's
codegen cache no longer holds the pass (session.get_spark sizes it).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import timed_passes  # noqa: E402
from streamprocessing_spark.registry import all_specs  # noqa: E402
from streamprocessing_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    specs = all_specs()
    unknown = [n for n in args.queries if n not in specs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("time-queries")
    # warm the JVM + parquet footers like bench.py does
    specs[args.queries[0]].fn(spark, args.sf).write.format("noop").mode(
        "overwrite"
    ).save()

    compiles: dict[str, list[int]] = {}
    raw = timed_passes(spark, specs, args.queries, args.sf, args.reps, compiles)
    total = 0.0
    for name in args.queries:
        reps = sorted(raw[name])
        med = reps[(len(reps) - 1) // 2]
        total += med
        compiled = "/".join(map(str, compiles[name]))
        print(
            f"{med:8.3f}  [{reps[0]:.3f}, {reps[-1]:.3f}]  {name}  compiled {compiled}",
            flush=True,
        )
    print(f"{total:8.3f}  TOTAL (sum of medians)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
