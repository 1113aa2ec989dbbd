#!/usr/bin/env python
"""Print the physical-plan operator shape of registered queries.

For each selected query the builder is called (builders that cut
lineage or probe bucket sizes run those jobs here) and the result's
``explain("formatted")`` plan is printed with expression ids
(``#123``), RDD ids (``MapPartitionsRDD[45]``), attribute names and
input directories removed. What is left is the operator tree and each
operator's expression shape, so two commits' plans can be compared
with ``diff``:

  python tools/plan_digest.py --family similarity dedup > change.txt
  python tools/plan_digest.py --repo ../parent --family similarity dedup \\
      > parent.txt
  diff parent.txt change.txt

Each query's block starts with ``### <name> <sha>``, the first 12 hex
digits of the sha256 of its normalized plan, so ``grep '^###'`` gives a
one-line-per-query summary. ``--family F`` selects the queries whose
builder lives in ``map_reduce_lite_spark/ops/F.py``; positional names
select single queries; with neither, every registered query is
printed. The session is the engine's own (``session.get_spark``) with
``SPARK_GRAFT_CPUS`` defaulting to the host's core count, so compare
digests taken with the same setting.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import os
import re
import sys
from pathlib import Path

_ATTR = re.compile(r"\b[A-Za-z_]\w*#\d+L?\b")  # vec_id#12L, x_0#7
_EXPR_ID = re.compile(r"#\d+L?\b")  # count(1)#45L -> count(1)
_RDD_ID = re.compile(r"RDD\[\d+\]")  # MapPartitionsRDD[45]
_PLAN_ID = re.compile(r"plan_id=\d+")  # exchange ids
_DIRS = re.compile(r"file:[^\s,\]]*/")  # input directories


def normalize(plan: str) -> str:
    """The plan text with run- and name-dependent tokens removed."""
    out = []
    for line in plan.splitlines():
        line = _ATTR.sub("_", line)
        line = _EXPR_ID.sub("", line)
        line = _RDD_ID.sub("RDD[]", line)
        line = _PLAN_ID.sub("plan_id=", line)
        line = _DIRS.sub("file:", line)
        out.append(line.rstrip())
    while out and not out[-1]:
        out.pop()
    return "\n".join(out)


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def select(queries: dict, families: list[str], names: list[str]) -> list[str]:
    if not families and not names:
        return list(queries)
    modules = {f"map_reduce_lite_spark.ops.{f}" for f in families}
    picked = [n for n, build in queries.items() if build.__module__ in modules]
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {', '.join(unknown)}")
    return picked + [n for n in names if n not in picked]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="query names")
    ap.add_argument("--family", nargs="*", default=[], help="ops module names")
    ap.add_argument(
        "--repo",
        default=str(Path(__file__).resolve().parent.parent),
        help="checkout whose engine builds the plans (default: this one)",
    )
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"),
        help="directory of the input parquet tables",
    )
    args = ap.parse_args(argv)

    sys.path.insert(0, str(Path(args.repo).resolve()))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))

    import __spark_entry__ as entry
    from map_reduce_lite_spark.session import get_spark

    print(f"plans built by {Path(entry.__file__).parent}", file=sys.stderr)

    queries = entry.queries()
    names = select(queries, args.family, args.names)

    spark = get_spark(app_name="plan_digest")
    try:
        for name in names:
            plan = normalize(formatted_plan(queries[name](spark, args.sf_dir)))
            sha = hashlib.sha256(plan.encode()).hexdigest()[:12]
            print(f"### {name} {sha}\n{plan}\n", flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
