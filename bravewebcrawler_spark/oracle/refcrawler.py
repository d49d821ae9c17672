"""Sequential crawler implementing the REFERENCE's semantics, used as the
correctness oracle for the Spark engine (north rule: identical crawl ordering,
identical URL-seen membership, per-document span-sequence equality).

It mirrors the reference's processing model lifted to a frontier:
  * one-touch-per-URL seen set (each input row processed exactly once —
    brave_parallel_processing.py:373-381 positional identity),
  * stable priority ordering with deterministic tiebreak (the candidate sort
    at search_common.py:272-275: preferred domains first, stable source rank
    as tiebreak → here: priority DESC, depth ASC, url_hash ASC),
  * blacklist filtering at discovery time (search_common.py:158-160),
  * per-item budget → per-host token-bucket politeness (SURVEY.md §2.9 T4),
  * page parsing via an INDEPENDENT ``re.finditer`` implementation (the
    engine parses with vectorized pandas in functions/extract.py, so the
    span-equality test compares two implementations).

Selection contract per round (shared with plans/round.py — see the proof-ish
note in tests/test_crawl_vs_oracle.py): iterate eligible frontier in total
order; select a URL iff its host still has budget and the global round cap is
not yet reached. Equivalently: per-host prefix of length budget(host), then
the global top-``max_urls_per_round`` of the union.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from bravewebcrawler_spark.functions.canon import (
    canonicalize_url_py,
    host_of_py,
    is_blacklisted_py,
    url_hash_py,
)
from bravewebcrawler_spark.plans.policy import CrawlPolicy, path_of_py, priority_py
from bravewebcrawler_spark.sources.synthweb import SynthWeb

_TAG_RE = re.compile(r"<title>(?P<title>.*?)</title>|<p>(?P<p>.*?)</p>|<img src=\"(?P<img>[^\"]*)\">", re.S)
_A_RE = re.compile(r"<a href=\"([^\"]*)\">")


def parse_page_oracle(html: str) -> tuple[list[dict], list[str]]:
    """Independent span+outlink parser (sequential re.finditer)."""
    spans: list[dict] = []
    for off, m in enumerate(_TAG_RE.finditer(html)):
        if m.group("img") is not None:
            spans.append({"kind": "media", "text": None, "media_ref": m.group("img"), "offset": off})
        else:
            txt = m.group("title") if m.group("title") is not None else m.group("p")
            spans.append({"kind": "text", "text": txt, "media_ref": None, "offset": off})
    return spans, _A_RE.findall(html)


@dataclass
class OracleResult:
    # round, seq, url_canon, status, error[:30] (F18 truncation)
    crawl_log: list[tuple[int, int, str, str, str | None]] = field(default_factory=list)
    documents: dict[str, list[dict]] = field(default_factory=dict)  # url_canon -> spans
    seen: set[str] = field(default_factory=set)  # url_canon of every fetched URL (TIMEOUTs excluded)
    frontier_rest: list[str] = field(default_factory=list)  # still-pending canonical urls


def _admit(web: SynthWeb, url: str, depth: int, policy: CrawlPolicy) -> tuple[str, float] | None:
    """Discovery-time filter + shaping: returns (url_canon, priority) or None."""
    if depth > policy.max_depth:
        return None
    canon = canonicalize_url_py(url)
    host = host_of_py(canon)
    if not host or is_blacklisted_py(host):
        return None
    for prefix in web.robots_disallow(host):
        if path_of_py(canon).startswith(prefix):
            return None
    return canon, priority_py(host, path_of_py(canon), depth)


def crawl_oracle(web: SynthWeb, seeds: list[str], policy: CrawlPolicy) -> OracleResult:
    from bravewebcrawler_spark.functions.relevance import is_generic_title_py

    res = OracleResult()
    # frontier: url_canon -> (priority, depth, attempts); first discovery
    # wins the (priority, depth) value, attempts merges as max (T2)
    frontier: dict[str, tuple[float, int, int]] = {}
    tokens: dict[str, float] = {}  # only hosts that ever spent; others implicitly full

    for u in seeds:
        adm = _admit(web, u, 0, policy)
        if adm is not None and adm[0] not in frontier:
            frontier[adm[0]] = (adm[1], 0, 0)

    for rnd in range(policy.max_rounds):
        if rnd > 0:
            for h in tokens:
                tokens[h] = min(policy.capacity, tokens[h] + policy.rate)
        ordered = sorted(
            frontier.items(), key=lambda kv: (-kv[1][0], kv[1][1], url_hash_py(kv[0]), kv[0])
        )
        budget = {}
        selected: list[tuple[str, float, int, int]] = []
        for canon, (prio, depth, attempts) in ordered:
            if len(selected) >= policy.max_urls_per_round:
                break
            h = host_of_py(canon)
            if h not in budget:
                budget[h] = int(tokens.get(h, policy.capacity))
            if budget[h] > 0:
                budget[h] -= 1
                selected.append((canon, prio, depth, attempts))
        if not selected:
            break

        for seq, (canon, prio, depth, attempts) in enumerate(selected):
            del frontier[canon]
            h = host_of_py(canon)
            tokens[h] = tokens.get(h, policy.capacity) - 1.0
            status, html, err = web.fetch_outcome(canon, attempts)
            res.crawl_log.append((rnd, seq, canon, status, err[:30] if err else None))
            if status == "TIMEOUT":
                # T2: transient — back into the frontier, retried later;
                # NOT added to seen (the engine's round.seen_view excludes it)
                frontier[canon] = (prio, depth, attempts + 1)
                continue
            res.seen.add(canon)
            if status != "FETCHED_OK":
                continue
            spans, outlinks = parse_page_oracle(html)
            res.documents[canon] = spans
            # P6 gate: a generic <title> blocks outlink expansion (document
            # and log row are kept) — mirrors plans/round.py
            if policy.use_relevance_gate:
                title = spans[0]["text"] if spans and spans[0]["kind"] == "text" else ""
                if title and is_generic_title_py(title):
                    continue
            # within-round discovery dedup: min depth wins; but all links from
            # one round share depth+1 per parent — first-wins over the
            # selected order is deterministic and matches the engine's
            # min-depth/first-discovery rule because parents are processed in
            # total order and depth is uniform per parent.
            for link in outlinks:
                adm = _admit(web, link, depth + 1, policy)
                if adm is None:
                    continue
                lc, lp = adm
                if lc in res.seen:
                    continue
                if lc in frontier:
                    old_p, old_d, old_a = frontier[lc]
                    if depth + 1 < old_d:
                        frontier[lc] = (lp, depth + 1, old_a)
                else:
                    frontier[lc] = (lp, depth + 1, 0)

    res.frontier_rest = sorted(frontier)
    return res
