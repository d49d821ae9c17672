"""Spans around the engine's public calls, and Spark's in-process status store.

Tracing is installed only for a ``--trace 1`` run. It patches module
attributes the crawl loop looks up at call time (``plans.crawl.run_round``,
``initial_state`` and the ``plans.checkpoint`` read/write functions), so no
engine code changes. Each span records name, start, end, parent and run id,
stays in memory and is written out when the run ends. A span also tags the
Spark jobs its thread submits (``SparkContext.addJobTag``), which is how a
job that is not a table write finds its span.

Stage metrics (run, CPU and GC time, shuffle bytes, spill) come from
``sc._jsc.sc().statusStore()``; Python-worker times, Arrow bytes and row
counts come from the SQL status store's per-node metrics. Both work with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import re
import threading
import time
from contextlib import contextmanager

TAG_PREFIX = "perfbench-span-"
PY_NODE_RE = re.compile(r"Python|Pandas|InArrow")
PATH_RE = re.compile(r"\[path=([^\]]+)\]")
STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


class Tracer:
    """In-memory span recorder; one per traced run."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
                   "run": self.run_id, "start": time.time(), "end": None, **attrs}
            self.spans.append(rec)
        stack.append(sid)
        tag = f"{TAG_PREFIX}{sid}"
        self.sc.addJobTag(tag)
        try:
            yield rec
        finally:
            self.sc.removeJobTag(tag)
            rec["end"] = time.time()
            stack.pop()

    def wrap(self, module, attr: str, attrs_of=None) -> None:
        """Replace ``module.attr`` by a spanned call; ``attrs_of(args, kwargs)``
        adds span attributes such as the round number or table names."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            extra = attrs_of(args, kwargs) if attrs_of else {}
            with self.span(attr, **extra):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)


def install_crawl_spans(tracer: Tracer) -> None:
    from bravewebcrawler_spark.plans import checkpoint as ckpt
    from bravewebcrawler_spark.plans import crawl as crawl_mod

    tracer.wrap(crawl_mod, "run_round", lambda a, k: {"round": a[7]})
    tracer.wrap(crawl_mod, "initial_state")
    tables = lambda a, k: {"round": a[1], "tables": sorted(a[2])}  # noqa: E731
    tracer.wrap(ckpt, "write_tables", tables)
    tracer.wrap(ckpt, "start_writes", tables)
    tracer.wrap(ckpt, "publish_manifest", lambda a, k: {"round": a[1]})
    for name in ("load_state", "load_seen", "load_bloom"):
        tracer.wrap(ckpt, name)


# ----------------------------------------------------------- status store


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def parse_metric(text: str) -> float:
    """A formatted SQL metric value ('1,234', '4.1 s', 'total (...)\\n9.4 s (...)',
    '807.9 KiB') as a number in base units (s, B or a count)."""
    if text is None:
        return 0.0
    line = text.split("\n")[-1] if text.startswith("total") else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * UNITS.get(m.group(2), 1.0)


def _metric_map(sq, exec_id: int) -> dict[int, str]:
    """Accumulator id -> formatted value, parsed from one toString() call."""
    text = sq.executionMetrics(exec_id).toString()
    body = text[text.index("(") + 1 : -1] if "(" in text else ""
    out = {}
    for part in re.split(r",\s(?=\d+ -> )", body):
        k, _, v = part.partition(" -> ")
        if k.strip().isdigit():
            out[int(k)] = v
    return out


def read_status(spark, since: float) -> dict:
    """Jobs, stages and SQL executions submitted at or after ``since``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = {}
    for j in _seq(store.jobsList(None)):
        sub = _opt_ms(j.submissionTime())
        if sub is None or sub < since - 1.0:
            continue
        tags = [t for t in _seq(j.jobTags().toList()) if t.startswith(TAG_PREFIX)]
        jobs[j.jobId()] = {
            "submit": sub, "end": _opt_ms(j.completionTime()),
            "stages": [int(s) for s in _seq(j.stageIds())],
            "span": max((int(t[len(TAG_PREFIX):]) for t in tags), default=None),
        }
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    stages = {}
    for s in _seq(store.stageList(None, False, False, empty, None)):
        sub = _opt_ms(s.submissionTime())
        if sub is None or sub < since - 1.0:
            continue
        stages[s.stageId()] = {
            "submit": sub, "end": _opt_ms(s.completionTime()) or sub,
            "cpu_s": s.executorCpuTime() / 1e9, "run_s": s.executorRunTime() / 1e3,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_bytes": s.shuffleReadBytes() + s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        }
    sq = spark._jsparkSession.sharedState().statusStore()
    execs = {}
    for e in _seq(sq.executionsList()):
        if e.submissionTime() / 1000.0 < since - 1.0:
            continue
        m = PATH_RE.search(e.physicalPlanDescription())
        job_ids = [int(x) for x in _seq(e.jobs().keys().toList())]
        execs[e.executionId()] = {
            "submit": e.submissionTime() / 1000.0, "end": _opt_ms(e.completionTime()),
            "path": m.group(1) if m else None, "jobs": sorted(job_ids),
        }
    return {"jobs": jobs, "stages": stages, "execs": execs, "sq": sq}


def plan_nodes(sq, exec_id: int, want) -> list[dict]:
    """Plan nodes of one execution whose name satisfies ``want``, each with
    its metric values (by metric name), its stage and its child node ids."""
    graph = sq.planGraph(exec_id)
    values = _metric_map(sq, exec_id)
    children: dict[int, list[int]] = {}
    for e in _seq(graph.edges()):
        children.setdefault(e.toId(), []).append(e.fromId())
    out = []
    for n in _seq(graph.allNodes()):
        name = n.name()
        if not want(name):
            continue
        mets, stage = {}, None
        for m in _seq(n.metrics()):
            raw = values.get(m.accumulatorId())
            mets[m.name()] = parse_metric(raw)
            hit = STAGE_RE.search(raw or "")
            if hit and stage is None:
                stage = int(hit.group(1))
        out.append({"id": n.id(), "name": name, "desc": n.desc(), "metrics": mets,
                    "stage": stage, "children": children.get(n.id(), [])})
    return out


def job_stage_owner(jobs: dict) -> dict[int, int]:
    """Stage id -> the (first) job that ran it."""
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    return owner


def merge_intervals(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def covered(iv: list[tuple[float, float]], a: float, b: float) -> float:
    """Length of [a, b] covered by the merged intervals ``iv``."""
    return sum(max(0.0, min(b, y) - max(a, x)) for x, y in iv)
