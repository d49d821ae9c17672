"""Dump .explain("formatted") for registry queries into a directory.

Usage: python tools/capture_plans.py <out_dir> [query ...]
  writes <out_dir>/<query>.txt; reads $SPARK_GRAFT_SF_DIR (default sf0.1)
       python tools/capture_plans.py diff <dirA> <dirB>
  prints a unified diff per differing plan and exits 1 on any difference
  (a plan present on one side only counts); exits 0 when all are identical

For queries whose registry function EXECUTES during construction (the dedup
family, corpus_prep), the returned DataFrame is a materialized stub whose
plan says nothing. For those the tool records the plan of every
DataFrame the registry body hands to ``_materialize_and_release`` while it
runs — the registry's own plans, caches included — one section per call.
Iterative internals (connected-components rounds) have no single static plan;
the pairs and result plans around them are what is captured.

The capture session runs with adaptive execution off: an adaptive plan
re-plans from runtime statistics and stage completion order, and a cache
filled before the capture prints its executed plan, so two captures of the
same code could differ. The static plan is what a code change moves. The text
is normalised (:func:`normalize`): expression ids, ``plan_id``s (the
exchange ids), RDD ids, lambda variable names (numbered per session) and
the random part of ``bwc-*`` scratch dirs become fixed tokens, so two
captures of the same plans are identical — capture on two checkouts, then
``diff`` the two directories to check that a change leaves plans alone.
"""

from __future__ import annotations

import difflib
import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e  # noqa: E402
from bravewebcrawler_spark.session import get_spark  # noqa: E402


# (pattern, replacement): ids Spark hands out per session or per run
_VOLATILE = [
    (re.compile(r"#\d+"), "#N"),  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\bx_\d+\b"), "x_N"),  # lambda variables
    (re.compile(r"(bwc-[a-z]+-)\w+"), r"\1*"),  # mkdtemp suffix
]


def diff_dirs(dir_a: str, dir_b: str) -> int:
    """Print a unified diff for every plan that differs between two capture
    directories; return the number of differing or one-sided files."""
    names = sorted(set(os.listdir(dir_a)) | set(os.listdir(dir_b)))
    differing = 0
    for name in names:
        a, b = os.path.join(dir_a, name), os.path.join(dir_b, name)
        if not (os.path.isfile(a) and os.path.isfile(b)):
            print(f"only in {dir_a if os.path.isfile(a) else dir_b}: {name}")
            differing += 1
            continue
        with open(a) as fa, open(b) as fb:
            lines_a, lines_b = fa.readlines(), fb.readlines()
        if lines_a != lines_b:
            sys.stdout.writelines(difflib.unified_diff(lines_a, lines_b, a, b))
            differing += 1
    print(f"{len(names) - differing} of {len(names)} plans identical")
    return differing


def normalize(plan: str) -> str:
    """``plan`` with every session- or run-specific id replaced by a token."""
    for pattern, token in _VOLATILE:
        plan = pattern.sub(token, plan)
    return plan


def _formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return normalize(buf.getvalue())


def capture(spark, sf_dir: str, name: str) -> str:
    """The formatted plan text of registry query ``name``."""
    recorded: list[str] = []
    release = e._materialize_and_release

    def recording(df, caches, row_cap=0):
        recorded.append(_formatted(df))
        return release(df, caches, row_cap)

    e._materialize_and_release = recording
    try:
        df = e.queries()[name](spark, sf_dir)
    finally:
        e._materialize_and_release = release
    if not recorded:
        return _formatted(df)
    return "".join(
        f"== _materialize_and_release call {i + 1} of {len(recorded)} ==\n{plan}"
        for i, plan in enumerate(recorded)
    )


def main() -> None:
    if sys.argv[1] == "diff":
        sys.exit(1 if diff_dirs(sys.argv[2], sys.argv[3]) else 0)
    out_dir, names = sys.argv[1], sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-capture", extra_conf={"spark.sql.adaptive.enabled": "false"})
    for name in names:
        if name == "stream_stateful_user_stats":
            print(f"skip {name}: streaming query, no static batch plan")
            continue
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(capture(spark, sf_dir, name))
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
