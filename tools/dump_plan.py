"""Dump ``explain("formatted")`` for named registered queries.

Optimization-round evidence tool: writes the physical plan of each
named query (built against the given sf dir, default sf0.1) to
``plans/<tag>/<query>_<suffix>.txt`` so before/after plan shapes are
committed beside the code (the judge reads these files, not a live
Spark).

Pinned subtrees (r13 verdict item 3): a pin hides the work behind it
from ``explain`` (the final frame scans an ``ExistingRDD``), which made
the r13 rerank/mrr before/after dumps identical though a whole posting
join was removed. So each query is built inside
``operators.pin.observe_pins``, which records every pinned frame's plan
as it is pinned; those follow the final plan in build order (innermost
pins first). A pinned section shows the plan BEFORE execution
(``isFinalPlan=false``), so a query dumps the same plan alone or inside
a batch, up to expression, plan and RDD ids.

Usage:
    python tools/dump_plan.py --tag r14 --suffix before [sf_dir] name...
    python tools/dump_plan.py --tag r14 --suffix after  [sf_dir] name...
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _formatted_plan(df) -> str:
    # Public accessor (ADVICE r13: the private
    # PythonSQLUtils.explainString / _jdf pair breaks under Spark
    # Connect and version bumps); explain prints to stdout.
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _take_flag(args: list[str], flag: str, default: str) -> str:
    if flag not in args:
        return default
    i = args.index(flag)
    if i + 1 >= len(args):
        print(f"usage: {flag} requires a value", file=sys.stderr)
        raise SystemExit(2)
    value = args[i + 1]
    del args[i:i + 2]
    return value


def main() -> int:
    args = sys.argv[1:]
    tag = _take_flag(args, "--tag", "r14")
    suffix = _take_flag(args, "--suffix", "before")
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    if not args:
        print(
            "usage: dump_plan.py [--tag r14] [--suffix before] [sf_dir] name...",
            file=sys.stderr,
        )
        return 2

    import __spark_entry__ as entrymod

    from etl_his_spark.operators.pin import observe_pins
    from etl_his_spark.session import get_spark

    qs = entrymod.queries()
    unknown = [n for n in args if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", tag,
    )
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("dump_plan", cpus=8)
    for name in args:
        pinned: list[str] = []
        with observe_pins(lambda df: pinned.append(_formatted_plan(df))):
            df = qs[name](spark, sf_dir)
        sections = [_formatted_plan(df)]
        for i, parent in enumerate(pinned, 1):
            sections.append(
                f"\n== Pinned subtree #{i} "
                "(localCheckpoint parent, build order) ==\n" + parent
            )
        plan = "".join(sections)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(
            f"wrote {path} ({len(plan.splitlines())} lines,"
            f" {len(pinned)} pinned subtrees)"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
