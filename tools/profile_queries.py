"""Per-query profiling for optimization rounds: time a SUBSET of registry
queries with bench.py's exact methodology (warm lake + serving artifacts,
median-of-N end-to-end collect) without paying for the whole headline.

Usage: python tools/profile_queries.py [--sf SF_DIR] [--runs N] \
           [--json OUT.json] [--no-warm] query [query ...]

``--no-warm`` skips ``warm_serving_artifacts`` so the FIRST run of each
query shows its cold cost (the r14 cold/warm accounting table); the lake
build itself always runs (the parquet lake is a cross-process manifest,
not a session artifact). A query that raises is recorded as
``{"error": ..., "samples": [...]}`` and the remaining queries still run.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from graphdb_td2_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--json", default=None)
    ap.add_argument("--no-warm", action="store_true")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    if args.runs < 1:
        ap.error("--runs must be at least 1")
    registry = entry_mod.queries()
    unknown = sorted(set(args.queries) - set(registry))
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")

    spark = get_spark("profile-queries")
    spark.range(1).count()
    spark.read.parquet(f"{args.sf}/region.parquet").count()

    from graphdb_td2_spark.lake import build_lake, warm_serving_artifacts

    t0 = time.time()
    build_lake(spark, args.sf)
    if not args.no_warm:
        warm_serving_artifacts(spark, args.sf)
    print(f"# lake+warm: {time.time() - t0:.3f}s", file=sys.stderr)

    out: dict[str, dict] = {}
    for name in args.queries:
        fn = registry[name]
        samples: list[float] = []
        try:
            for i in range(args.runs):
                spark.sparkContext.setJobDescription(f"profile:{name}#{i}")
                t0 = time.time()
                n = len(fn(spark, args.sf).collect())
                samples.append(time.time() - t0)
        except Exception as exc:  # one broken query must not lose the rest
            out[name] = {
                "error": f"{type(exc).__name__}: {str(exc)[:200]}",
                "samples": [round(s, 3) for s in samples],
            }
            print(f"# {name}: ERROR {out[name]['error']}", file=sys.stderr)
            continue
        finally:
            spark.sparkContext.setJobDescription(None)
        out[name] = {
            "median": round(statistics.median(samples), 3),
            "samples": [round(s, 3) for s in samples],
            "rows": n,
        }
        print(
            f"# {name}: median {out[name]['median']:.3f}s "
            f"(samples {out[name]['samples']}, {n} rows)",
            file=sys.stderr,
        )
    spark.stop()
    line = json.dumps(out, separators=(",", ":"))
    print(line)
    if args.json:
        Path(args.json).write_text(json.dumps(out, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
