"""Structured Streaming parity: the streaming windowed aggregation produces
exactly the batch twin's result (which itself is DuckDB-oracled)."""

from __future__ import annotations

import os

from bravewebcrawler_spark.streaming.events import run_stream_to_memory, window_agg_batch


def test_stream_equals_batch(spark, sf_dir, tmp_path):
    # the streaming file source consumes a DIRECTORY of files
    os.symlink(f"{sf_dir}/events.parquet", tmp_path / "part-0.parquet")
    path = str(tmp_path)
    batch = {
        (r["win_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in window_agg_batch(spark.read.parquet(path)).collect()
    }
    stream = {
        (r["win_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in run_stream_to_memory(spark, path, name="t_stream_parity").collect()
    }
    assert batch == stream
    assert len(batch) > 10


def test_stateful_running_stats(spark, sf_dir):
    """applyInPandasWithState per-key state equals the batch aggregate. The
    source is the bare events file, as the registry passes it: it is read in
    place, through no scratch directory."""
    import tempfile

    from pyspark.sql import functions as F

    from bravewebcrawler_spark.streaming.stateful import run_stateful_to_memory

    def scratch():
        return {d for d in os.listdir(tempfile.gettempdir()) if d.startswith("bwc_stream_")}

    before = scratch()
    got = {
        r["user_id"]: (r["n_events"], round(r["sum_value"], 6), r["max_value"])
        for r in run_stateful_to_memory(spark, f"{sf_dir}/events.parquet", name="t_stateful").collect()
    }
    assert not scratch() - before
    expect = {
        r["user_id"]: (r["n"], round(r["s"], 6), r["m"])
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"), F.max("value").alias("m"))
        .collect()
    }
    assert got.keys() == expect.keys()
    mismatches = {
        u: (got[u], expect[u])
        for u in got
        if got[u][0] != expect[u][0]
        or abs(got[u][1] - expect[u][1]) > 1e-6
        or got[u][2] != expect[u][2]
    }
    assert not mismatches, list(mismatches.items())[:3]
