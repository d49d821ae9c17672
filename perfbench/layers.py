"""Per-layer metrics of a traced run, from its spans and Spark's status store.

Attribution rules:
  * a job that writes a table is attributed to that table through the
    ``[path=...]`` of its SQL plan (the overlapped checkpoint writes run on
    the engine's own thread pool, where span tags do not reach);
  * any other job goes to the innermost span whose tag it carries;
  * inside a write, the stages that run the Python node (the fetch
    ``mapInPandas``; the bloom ``applyInPandas``/cogroup) are split off as
    the fetch and seen layers;
  * what is left is reported as unattributed.

Wall time of a crawl call is partitioned exactly: the layer spans the crawl
loop calls (one after another on the driver thread), plus the time outside
them with no Spark stage running (``crawl.driver_serial_s``), plus the time
outside them with a stage running (``crawl.unattributed_s``). The
``crawl_log`` write runs the lazy dequeue as well as the fetch, so its span is
split by stage: the time a fetch (``mapInPandas``) stage runs is fetch, the
rest of the span (the rank window, the ``url_hash`` spread) is dequeue.
"""

from __future__ import annotations

import os
from collections import defaultdict

from perfbench.trace import PY_NODE_RE, covered, job_stage_owner, merge_intervals, plan_nodes, read_status

SIDE_TABLES = {"seen", "host_state", "documents", "dead_letter"}
SPAN_LAYER = {
    "run_round": "dequeue", "initial_state": "dequeue", "publish_manifest": "commit",
    "load_state": "load", "load_seen": "load", "load_bloom": "load", "start_writes": "side_submit",
}


def _table(path: str | None) -> str | None:
    return os.path.basename(path.rstrip("/")) if path else None


def _write_layer(tables) -> str:
    t = set(tables)
    if t == {"crawl_log"}:
        return "fetch"
    if t & {"frontier", "frontier_delta"}:
        return "discover"
    if t & {"bloom", "bloom_delta"}:
        return "bloom_write"
    return "side_submit"


def span_layer(span: dict) -> str:
    if span["name"] == "write_tables":
        return _write_layer(span["tables"])
    return SPAN_LAYER.get(span["name"], "loop")


def _total(nodes, name: str) -> float:
    return sum(n["metrics"].get(name, 0.0) for n in nodes)


def _rows_below(nodes_by_id, start: int) -> float:
    """Row count of the nearest node under ``start`` that reports one."""
    todo, seen = [start], set()
    while todo:
        nid = todo.pop(0)
        if nid in seen or nid not in nodes_by_id:
            continue
        seen.add(nid)
        m = nodes_by_id[nid]["metrics"]
        for key in ("number of output rows", "records read"):
            if m.get(key):
                return m[key]
        todo += nodes_by_id[nid]["children"]
    return 0.0


def _subtree(nodes_by_id, start: int) -> set[int]:
    todo, out = [start], set()
    while todo:
        nid = todo.pop()
        if nid in out or nid not in nodes_by_id:
            continue
        out.add(nid)
        todo += nodes_by_id[nid]["children"]
    return out


def crawl_layers(spark, tracer, res: dict, since: float) -> tuple[dict, list[dict]]:
    from bravewebcrawler_spark.plans.crawl import initial_state

    spans = tracer.spans
    calls = [s for s in spans if s["name"] == "crawl"]
    lo, hi = min(s["start"] for s in calls), max(s["end"] for s in calls)
    st = read_status(spark, since)
    sq = st["sq"]
    jobs = {j: v for j, v in st["jobs"].items() if lo <= v["submit"] <= hi}
    stages = {s: v for s, v in st["stages"].items() if lo - 1 <= v["submit"] <= hi + 1}
    execs = {e: v for e, v in st["execs"].items() if lo <= v["submit"] <= hi}
    by_id = {s["id"]: s for s in spans}

    # --- job and stage -> layer
    job_exec = {j: e for e, v in execs.items() for j in v["jobs"]}
    stage_layer: dict[int, str] = {}
    m: dict[str, float] = defaultdict(float)
    for eid, ex in execs.items():
        table = _table(ex["path"])
        if table is None:
            continue
        if table in ("crawl_log", "frontier", "frontier_delta", "bloom", "bloom_delta"):
            want = (lambda n: True) if table in ("frontier", "frontier_delta") else PY_NODE_RE.search
            nodes = plan_nodes(sq, eid, want)
            py = [n for n in nodes if PY_NODE_RE.search(n["name"])]
            py_layer = "fetch" if table == "crawl_log" else "seen"
            for n in py:
                if n["stage"] is not None:
                    stage_layer[n["stage"]] = py_layer
            if table == "crawl_log":
                m["fetch.py_start_s"] += _total(py, "time to start Python workers")
                m["fetch.py_run_s"] += _total(py, "time to run Python workers")
                m["fetch.arrow_bytes"] += _total(py, "data sent to Python workers")
                m["fetch.arrow_bytes"] += _total(py, "data returned from Python workers")
            else:
                m["seen.py_s"] += _total(py, "time to run Python workers")
            if table in ("frontier", "frontier_delta"):
                nb = {n["id"]: n for n in nodes}
                explode = [n for n in nodes if n["name"] == "Generate" and "outlinks" in n["desc"]]
                raw_dedup = [n for n in nodes if "Aggregate" in n["name"] and "min(link_depth" in n["desc"]
                             and "partial_" not in n["desc"]]
                m["discover.links_raw"] += _total(explode, "number of output rows")
                m["discover.links_unique"] += _total(raw_dedup, "number of output rows")
                for cg in (n for n in nodes if "CoGroup" in n["name"]):
                    hits = cg["metrics"].get("number of output rows", 0.0)
                    m["seen.hits"] += hits
                    m["seen.probe_rows"] += max((_rows_below(nb, c) for c in cg["children"]), default=0.0)
                    # confirmed = hits semi-joined with the seen set: the
                    # LeftSemi join closest above the probe
                    semis = [(len(sub), j) for j in nodes
                             if "Join" in j["name"] and "LeftSemi" in j["desc"]
                             and cg["id"] in (sub := _subtree(nb, j["id"]))]
                    if semis:
                        m["_confirmed"] += min(semis, key=lambda t: t[0])[1]["metrics"].get(
                            "number of output rows", 0.0)
    owner = job_stage_owner(jobs)

    def job_layer(jid: int) -> str:
        ex = execs.get(job_exec.get(jid))
        table = _table(ex["path"]) if ex else None
        if table == "crawl_log":
            return "dequeue"  # its non-Python stages: the rank window and the url_hash spread
        if table in ("frontier", "frontier_delta"):
            return "discover"
        if table in ("bloom", "bloom_delta"):
            return "seen"
        if table in SIDE_TABLES:
            return "checkpoint"
        span = by_id.get(jobs[jid]["span"])
        layer = span_layer(span) if span else "loop"
        return {"load": "checkpoint", "commit": "checkpoint", "side_submit": "checkpoint",
                "bloom_write": "seen"}.get(layer, layer)

    for sid, stg in stages.items():
        jid = owner.get(sid)
        if jid is None:
            continue
        layer = stage_layer.get(sid) or job_layer(jid)
        if layer == "fetch":
            m["fetch.gc_s"] += stg["gc_s"]
        if layer in ("dequeue", "discover"):
            m[f"{layer}.cpu_s"] += stg["cpu_s"]
            m[f"{layer}.shuffle_bytes"] += stg["shuffle_bytes"]
        if layer == "discover":
            m["discover.spill_bytes"] += stg["spill_bytes"]
    for ex in execs.values():
        if _table(ex["path"]) in SIDE_TABLES and ex["end"]:
            m["checkpoint.side_writes_s"] += ex["end"] - ex["submit"]
    if m["seen.hits"]:
        m["seen.fp_ratio"] = (m["seen.hits"] - m["_confirmed"]) / m["seen.hits"]
    m.pop("_confirmed", None)

    # --- walls: a partition of each crawl call, and of each round in it
    busy = merge_intervals([(s["submit"], s["end"]) for s in stages.values()])
    fetch_busy = merge_intervals([(stages[sid]["submit"], stages[sid]["end"])
                                  for sid, layer in stage_layer.items() if layer == "fetch" and sid in stages])
    top = [s for s in spans if s["parent"] is not None and by_id[s["parent"]]["name"] == "crawl"]
    job = res["last_job"]
    commits = [mf["committed_at"] for mf in job["manifests"]]
    windows = [(f"round{r}", a, b) for r, (a, b) in enumerate(zip(round_starts(job), commits))]
    windows += [("tail1", commits[job["r1"]["last_round"]], job["t1"]), ("tail2", commits[-1], job["t2"])]
    accounting = []
    for label, a, b in windows:
        row = defaultdict(float)
        in_spans = []
        for s in top:
            x, y = max(a, s["start"]), min(b, s["end"])
            if y > x:
                layer = span_layer(s)
                if layer == "fetch":  # the crawl_log write: fetch stages, then dequeue
                    f = covered(fetch_busy, x, y)
                    row["fetch"] += f
                    row["dequeue"] += (y - x) - f
                else:
                    row[layer] += y - x
                in_spans.append((x, y))
        gaps = _complement(merge_intervals(in_spans), a, b)
        row["unattributed"] = sum(covered(busy, x, y) for x, y in gaps)
        row["driver_serial"] = sum(y - x for x, y in gaps) - row["unattributed"]
        row = {"window": label, "wall": b - a, **{k: round(v, 4) for k, v in row.items()}}
        row["sum"] = round(sum(v for k, v in row.items() if k not in ("window", "wall", "sum")), 4)
        accounting.append(row)
    for row in accounting:
        for src, dst in (("dequeue", "dequeue.wall_s"), ("fetch", "fetch.wall_s"),
                         ("discover", "discover.wall_s"), ("bloom_write", "seen.bloom_write_s"),
                         ("commit", "checkpoint.commit_s"), ("load", "checkpoint.load_state_s"),
                         ("driver_serial", "crawl.driver_serial_s"),
                         ("unattributed", "crawl.unattributed_s")):
            m[dst] += row.get(src, 0.0)
    m["checkpoint.compact_s"] = sum(
        s["end"] - s["start"] for s in top
        if s["name"] == "write_tables" and set(s["tables"]) & {"frontier", "bloom"}
    )

    # --- counts from the committed manifests
    rounds = [mf["metrics"] for mf in job["manifests"]]
    seeds_df = spark.read.parquet(os.path.join(os.path.dirname(job["r1"]["state_dir"]), "seeds.parquet"))
    before = initial_state(spark, res["web"], seeds_df, res["policy"])["frontier"].count()
    for r in rounds:
        m["dequeue.rows_ranked"] += before
        m["discover.admitted"] += r["frontier_size"] - (before - r["dequeued"])
        before = r["frontier_size"]
    urls = sum(r["dequeued"] for r in rounds)
    m["checkpoint.bytes_per_url"] = job["state_bytes"] / max(urls, 1)
    m["crawl.jobs_per_round"] = len(jobs) / max(len(rounds), 1)
    return dict(m), accounting


def round_starts(job: dict) -> list[float]:
    """Start of each committed round of a crawl job: the previous commit, or
    the start of the crawl() call for the first round of each call."""
    commits = [m["committed_at"] for m in job["manifests"]]
    starts = [job["t0"]] + commits[:-1]
    if job["r1"]["last_round"] + 1 < len(starts):
        starts[job["r1"]["last_round"] + 1] = job["t1"]
    return starts


def round_walls(job: dict) -> list[float]:
    return [m["committed_at"] - s for m, s in zip(job["manifests"], round_starts(job))]


def _complement(iv, a: float, b: float) -> list[tuple[float, float]]:
    out, cur = [], a
    for x, y in iv:
        if x > cur:
            out.append((cur, x))
        cur = max(cur, y)
    if cur < b:
        out.append((cur, b))
    return out


def query_layers(spark, tracer, res: dict, groups: dict[str, list[str]]) -> dict:
    """query.<name>_s from the last timed pass's spans; ops.<group>.* from
    the stages and Python nodes of the jobs those spans submitted."""
    group_of = {q: g for g, qs in groups.items() for q in qs}
    qspans = [s for s in tracer.spans if s["name"] == "query"][-len(res["passes"][-1]):]
    span_query = {s["id"]: s["query"] for s in qspans}
    lo = min(s["start"] for s in qspans)
    st = read_status(spark, lo)
    m: dict[str, float] = defaultdict(float)
    for s in qspans:
        m[f"query.{s['query']}_s"] = s["end"] - s["start"]
    jobs = {j: v for j, v in st["jobs"].items() if v["span"] in span_query}
    owner = job_stage_owner(jobs)
    for sid, stg in st["stages"].items():
        jid = owner.get(sid)
        if jid is None:
            continue
        g = group_of[span_query[jobs[jid]["span"]]]
        m[f"ops.{g}.cpu_s"] += stg["cpu_s"]
        m[f"ops.{g}.gc_s"] += stg["gc_s"]
        m[f"ops.{g}.shuffle_bytes"] += stg["shuffle_bytes"]
    for eid, ex in st["execs"].items():
        tagged = [jobs[j]["span"] for j in ex["jobs"] if j in jobs]
        if not tagged:
            continue
        g = group_of[span_query[tagged[0]]]
        for n in plan_nodes(st["sq"], eid, PY_NODE_RE.search):
            m[f"ops.{g}.py_s"] += n["metrics"].get("time to run Python workers", 0.0)
    return dict(m)
