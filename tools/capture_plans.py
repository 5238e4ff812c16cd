"""Capture .explain('formatted') for declared queries into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> [query ...]
  tag    subdirectory under plans/ (e.g. r17) and suffix (_before/_after
         chosen via --suffix)
  query  optional subset; default = the bench suite (HEADLINE + EXTRA)

Options:
  --suffix before|after   file name suffix (default: before)
  --all                   capture every registered query, not just bench

Planning is driver-side only (no job runs), so this is cheap; queries
whose construction itself runs Spark jobs (index builds, persisted
intermediates) still execute those eagerly — expect a few seconds each
for the index-backed ones.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from firebolt_spark import get_spark  # noqa: E402
from firebolt_spark.queries import all_queries  # noqa: E402


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(description="capture query plans")
    parser.add_argument("tag", nargs="?", default="r17")
    parser.add_argument("queries", nargs="*")
    parser.add_argument("--suffix", default="before")
    parser.add_argument("--all", action="store_true", dest="cap_all")
    args = parser.parse_intermixed_args(argv)
    # a --suffix given no value must fail, not fall back or swallow a
    # following option (--suffix --all, --suffix=)
    if not args.suffix or args.suffix.startswith("--"):
        parser.error(f"--suffix needs a value, got {args.suffix!r}")
    tag, suffix, cap_all = args.tag, args.suffix, args.cap_all
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    queries = all_queries()
    if args.queries:
        names = args.queries
    elif cap_all:
        names = sorted(queries)
    else:
        import bench
        names = bench.HEADLINE + bench.EXTRA

    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    from firebolt_spark.functions import release

    for name in names:
        try:
            df = queries[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            release(df)
            spark.catalog.clearCache()
            print(f"{name}: ok")
        except Exception as exc:  # keep going; report at the end
            print(f"{name}: FAILED {exc}", file=sys.stderr)


if __name__ == "__main__":
    main()
