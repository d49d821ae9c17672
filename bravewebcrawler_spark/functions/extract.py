"""Page parsing: the vectorized replacement for the reference's browser agent.

The reference extracts facts by driving an LLM browser agent over each page
(SURVEY.md §2.1 S8, brave_parallel_processing.py:232-279) and by a regex
battery over search snippets (google_harvester.py:13-16,56-64,117-126 — CHE
id, phone, email, founded year, address-after-label). The engine replaces both
with deterministic extraction:

  * :func:`parse_pages_pd` — pandas-vectorized span + outlink extraction used
    inside ``mapInPandas`` (Arrow batches; no per-row Python loops — the regex
    scan runs via ``Series.str.extractall``/``findall`` which iterate in C).
    Output spans match the input_hint payload:
    ``array<struct<kind:string,text:string,media_ref:string,offset:int>>``
    (``plans/round.SPAN_TYPE``).
  * column-expression versions of the scalar regex battery (F6–F11) for use
    directly in DataFrame plans — JVM-side, whole-stage-codegen'd.

The sequential oracle (oracle/refcrawler.py) re-implements parsing
independently with ``re.finditer`` so the span-sequence-equality test compares
two independent implementations, not one function with itself.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# One combined element pattern; match ordinal = span offset. Groups:
#   1: <title> text   2: <p> text   3: <img src>
SPAN_RE = re.compile(r"<title>(.*?)</title>|<p>(.*?)</p>|<img src=\"([^\"]*)\">", re.S)
LINK_RE = re.compile(r"<a href=\"([^\"]*)\">")


def parse_spans_pd(html: pd.Series) -> pd.Series:
    """Ordered (kind,text,media_ref,offset) span lists, one per page.

    Vectorized: a single ``str.extractall`` over the batch; the per-match
    assembly walks the extractall result's numpy arrays, not the raw pages.
    """
    out: list[list[dict] | None] = [[] for _ in range(len(html))]
    ex = html.str.extractall(SPAN_RE)
    if len(ex):
        rows = ex.index.get_level_values(0)
        matchnum = ex.index.get_level_values(1)
        titles, paras, imgs = ex[0].values, ex[1].values, ex[2].values
        for row, off, t, p, m in zip(rows, matchnum, titles, paras, imgs):
            if isinstance(m, str):
                span = {"kind": "media", "text": None, "media_ref": m, "offset": int(off)}
            else:
                txt = t if isinstance(t, str) else p
                span = {"kind": "text", "text": txt, "media_ref": None, "offset": int(off)}
            out[row].append(span)
    for i, isnull in enumerate(html.isna().values):
        if isnull:
            out[i] = None
    return pd.Series(out, index=html.index)


def parse_outlinks_pd(html: pd.Series) -> pd.Series:
    """Raw (possibly messy) href values per page — canonicalized downstream."""
    links = html.str.findall(LINK_RE)
    return links.where(html.notna(), None)


# ----------------------------------------------------------- column battery
def che_id_col(text: Column) -> Column:
    """F7: Swiss company id (google_harvester.py:13)."""
    return F.regexp_extract(text, r"CHE-\d{3}\.\d{3}\.\d{3}", 0)


def phone_col(text: Column) -> Column:
    """F8: phone (google_harvester.py:14)."""
    return F.regexp_extract(text, r"\+?\d[\d\s\-().]{7,}", 0)


def email_col(text: Column) -> Column:
    """F9: email, lowercased (google_harvester.py:15,125-126)."""
    return F.lower(F.regexp_extract(text, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", 0))


def founded_year_col(text: Column) -> Column:
    """F10: founded year (google_harvester.py:16)."""
    return F.regexp_extract(text, r"\b(18|19|20)\d{2}\b", 0)


def address_col(text: Column) -> Column:
    """F11: address after Sitz:/Adresse: label (google_harvester.py:61-64)."""
    return F.regexp_extract(text, r"(?i)(?:Sitz|Adresse):\s*([^<\n]*)", 1)
