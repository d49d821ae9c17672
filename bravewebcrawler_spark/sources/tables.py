"""Seed/table sources (SURVEY.md §2.1 S1/S2/K1).

The reference discovers its work list as the NEWEST csv in ``input/``
(brave_processor.py:215-221) read with a utf-8-sig header row
(:236-240). The engine keeps that operator for seed ingestion and reads the
rest of its inputs as Parquet (columnar, pushdown — the 100 TB path).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession


def newest_csv(input_dir: str, pattern: str = "*.csv") -> str:
    """S1: newest-by-mtime CSV discovery (brave_processor.py:215-221)."""
    files = glob.glob(os.path.join(input_dir, pattern))
    if not files:
        raise FileNotFoundError(f"no {pattern} in {input_dir}")
    return max(files, key=os.path.getmtime)


def read_seed_csv(spark: SparkSession, path: str) -> DataFrame:
    """S2: header CSV with utf-8-sig tolerance (brave_processor.py:236-240).

    Column order is positional in the reference; here the header names are
    authoritative and a BOM on the first header cell is stripped.
    """
    df = spark.read.option("header", True).option("encoding", "UTF-8").csv(path)
    first = df.columns[0]
    if first.startswith("﻿"):
        df = df.withColumnRenamed(first, first.lstrip("﻿"))
    return df


def load_seeds(spark: SparkSession, input_dir: str) -> DataFrame:
    """S1+S2 composed: the engine's seed-list source."""
    return read_seed_csv(spark, newest_csv(input_dir))


def spread(df: DataFrame) -> DataFrame:
    """Scan-parallelism guard for compute-heavy map work (input skew:
    repartition immediately after the read).

    The bundled test tables are each ONE parquet file with one row
    group (documents/events/embeddings), so every scan opens as a single
    input split and all downstream per-row work — the shingle+md5 churn of
    the dedup ladder, the regex batteries, the text-metrics battery, the
    pairwise similarity scoring — runs in ONE task regardless of core count
    (measured: dedup_minhash_lsh 21.4 s at sf1.0/local[32] with a 3-task map
    stage doing ~all the work). One small round-robin exchange right after
    the read (documents at sf1.0: ~16 MB) spreads rows across the cluster.
    At production scale inputs arrive as many splits and this is a no-op —
    the partition-count check is plan metadata, not a job. Results are
    unaffected: consumers below a spread are per-row deterministic
    expressions, exact (integer/min/max/count) aggregates, or float
    aggregates whose input order is already arbitrary today (corpus_prep's
    avg(quality) reaches its groupBy through shuffled joins). The TPC-H
    revenue sums — double sums whose addition order is TODAY still the
    single-split scan order — deliberately do not use it."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
