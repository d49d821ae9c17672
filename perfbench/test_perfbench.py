"""The benchmark's own tests. Each run is a subprocess with its own Spark
session, so these take minutes; they are not part of the engine's tier-1
suite and a bare ``pytest`` at the root skips them (see conftest.py).

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run as pb  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

TINY = ["--seed", "3", "--seconds", "1", "--size", "tiny"]


def _headline(monkeypatch) -> list[str]:
    # bench.py picks default shuffle and state directories on import unless
    # these are set; keep them inside the benchmark's work directory
    monkeypatch.setenv("SPARK_LOCAL_DIRS", os.path.join(pb.WORK, "tmp"))
    monkeypatch.setenv("SPARK_GRAFT_STATE_DIR_BASE", os.path.join(pb.WORK, "tmp"))
    import bench

    return bench.HEADLINE


def _run(args: list[str], patch: str = "") -> tuple[dict, list[str]]:
    """Run the benchmark in a subprocess, after ``patch`` (Python source run
    first in that process); the result line and the stdout lines."""
    code = textwrap.dedent(f"""
        import sys
        sys.argv = ["run.py"] + {args!r}
        from perfbench import run
    """) + textwrap.dedent(patch) + "\nsys.exit(run.cli())\n"
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


def test_spec_matches_the_metrics_the_runner_prints(monkeypatch):
    headline = _headline(monkeypatch)
    assert [w["name"] for w in SPEC["workloads"]] == ["crawl_expand", "query_suite"]
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == pb.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] == pb.per_layer_metrics(headline)
    assert len(pb.suite(headline)) == sum(len(qs) for qs in pb.OPS_GROUPS.values())


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["crawl_expand", "query_suite"])
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    result, lines = _run(["--workload", workload, "--trace", str(trace)] + TINY)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    printed = {ln.split()[1]: ln.split()[3] for ln in lines if ln.startswith("metric ")}
    named = {"crawl_expand": ["crawl_urls_per_s", "steady_urls_per_s", "round0_s", "resume_s"],
             "query_suite": ["suite_s"]}[workload]
    for name in named + [n for n, _ in pb.REPORTED] + ["failed_frac"]:
        assert name in printed, name
    if trace and workload == "crawl_expand":
        rounds = [json.loads(ln[len("round "):]) for ln in lines if ln.startswith("round ")]
        assert rounds and all(abs(r["sum"] - r["wall"]) < 1e-3 for r in rounds)


def test_wrong_expected_crawl_digest_counts_as_failed():
    result, lines = _run(["--workload", "crawl_expand", "--trace", "0"] + TINY, patch="""
        real = run.oracle_digests
        run.oracle_digests = lambda *a, **k: {**real(*a, **k), "log": "0" * 64}
    """)
    assert result["correct"] is False
    assert result["failed"] / result["attempted"] > 0
    assert any(ln.startswith("check-failed ") for ln in lines)


def test_a_crawl_that_raises_counts_as_failed():
    result, lines = _run(["--workload", "crawl_expand", "--trace", "0"] + TINY, patch="""
        import bravewebcrawler_spark.plans.crawl as plan

        def run_round(*a, **k):
            raise RuntimeError("injected round failure")

        plan.run_round = run_round
    """)
    assert result["correct"] is False
    assert result["failed"] == result["attempted"] >= 1
    assert any("injected round failure" in ln for ln in lines if ln.startswith("check-failed "))
