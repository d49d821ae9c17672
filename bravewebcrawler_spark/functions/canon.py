"""URL canonicalization, hashing, and host predicates.

Reference behavior being re-expressed (see SURVEY.md §2.8):
  - F1  host extraction            (reference: search_common.py:152-153 urlparse().hostname)
  - F2  root-URL normalization     (reference: brave_search.py:114-115 f"{scheme}://{netloc}")
  - P1  blacklist domain filter    (reference: search_common.py:22,158-160 substring-of-host)
  - P4  .ch-domain predicate       (reference: search_common.py:168,265 endswith('.ch'))
  - F19 url hash                   (engine addition: the seen-set / salting key)

Two exactly-agreeing implementations of canonicalization exist:
  * :func:`canonicalize_url_col` — pure Spark column expressions (whole-stage
    codegen, no Python in the hot path), used by the engine;
  * :func:`canonicalize_url_py` — pure-Python twin, used by the sequential
    oracle crawler and by property tests (idempotence, cross-impl equality).

Canonicalization contract (documented; both impls follow it bit-for-bit):
  1. trim surrounding whitespace
  2. missing scheme => "http"
  3. scheme and host lowercased
  4. default ports stripped (http:80, https:443); other ports kept
  5. fragment dropped
  6. query parameters sorted bytewise on the full "k=v" token; empty query
     drops the "?"
  7. path: trailing slashes stripped; empty path => "/"
(Userinfo@host and percent-encoding normalization are out of contract — the
synthetic web never produces them; a production impl would extend step 3.)

The portable 60-bit hash is derived from md5 so Python (hashlib), Spark
(``md5``) and DuckDB (``md5``) produce identical values — this makes the
crawl-ordering tie-break and the dedup keys oracle-comparable. At 100 TB scale
md5 is still JVM-side codegen; swapping to ``xxhash64`` is a one-line change
once oracle comparability is no longer needed.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Split a URL into (scheme, authority, path, query); fragment is dropped.
# Identical semantics under java.util.regex and Python re for the URL alphabet.
# The fragment is [\s\S]* (not .*): Java '.' excludes line terminators and '$'
# matches BEFORE a final terminator, so '#f\n' would leave the '\n' unreplaced
# and leak it into the query split element; [\s\S] consumes it in both engines.
_URL_RE = r"^(?:([a-zA-Z][a-zA-Z0-9+.\-]*)://)?([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#[\s\S]*)?$"

# Synthetic stand-ins for the reference's 6-domain blacklist
# (search_common.py:22): dropped when any entry is a SUBSTRING of the host.
BLACKLIST: tuple[str, ...] = (
    "ads.example",
    "tracker.example",
    "spam.example",
    "social.example",
    "shop-directory.example",
    "aggregator.example",
)

_DEFAULT_PORTS = {"http": "80", "https": "443"}


# ---------------------------------------------------------------- Spark side
# Delimiter for the one-pass regex extraction below. '#' is PROVABLY safe for
# any input: every capture group of _URL_RE excludes '#' ('[^/?#]*',
# '[^?#]*', '[^#]*', and the scheme alphabet), and the anchored pattern
# matches the whole string exactly once, so the replaced string is always
# exactly group1#group2#group3#group4 with no '#' inside any part.
_DELIM = "#"


def _canon_from_parts(scheme_raw: Column, hostport: Column, path_in: Column, query_raw: Column) -> Column:
    scheme = F.when(scheme_raw == "", F.lit("http")).otherwise(scheme_raw)
    # port handling only when a ':' is present — skips two regex calls per
    # row on the (overwhelmingly common) portless URL
    has_colon = F.contains(hostport, F.lit(":"))
    port = F.when(has_colon, F.regexp_extract(hostport, r":(\d+)$", 1)).otherwise(F.lit(""))
    host = F.when(has_colon, F.regexp_replace(hostport, r":\d+$", "")).otherwise(hostport)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80")) | ((scheme == "https") & (port == "443"))
    )
    authority = F.concat(host, F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")))
    # strip ALL trailing '/' (rtrim with a trim-string — no regex)
    path_raw = F.rtrim(path_in, F.lit("/"))
    path = F.when(path_raw == "", F.lit("/")).otherwise(path_raw)
    query = F.when(
        query_raw == "",
        F.lit(""),
    ).otherwise(F.concat(F.lit("?"), F.array_join(F.array_sort(F.split(query_raw, "&")), "&")))
    return F.concat(scheme, F.lit("://"), authority, path, query)


def canonicalize_url_col(url: Column) -> Column:
    """Canonical URL as a pure column expression (contract above).

    ONE regex execution extracts all four parts into a '#'-delimited string
    (split never sees a '#' from the input — see _DELIM note), replacing the
    4x-``regexp_extract`` build with exact output parity; the repeated
    ``parts`` subtree is shared by codegen subexpression elimination.
    Measured at 4M URLs: this extraction alone is 1.6x faster than the
    4-extract build; the full canon+host+hash battery used by the crawl round
    (which previously ran the URL regex 6x per row) is 3.2x faster — the
    number quoted in BENCH/BASELINE.md.
    """
    u = F.trim(url)
    parts = F.split(F.regexp_replace(u, _URL_RE, f"$1{_DELIM}$2{_DELIM}$3{_DELIM}$4"), _DELIM)
    return _canon_from_parts(
        F.lower(F.element_at(parts, 1)),
        F.lower(F.element_at(parts, 2)),
        F.element_at(parts, 3),
        F.element_at(parts, 4),
    )


def host_of_col(url: Column) -> Column:
    """Lowercased host (no port) of a URL — reference F1 semantics."""
    hostport = F.lower(F.regexp_extract(F.trim(url), _URL_RE, 2))
    return F.when(
        F.contains(hostport, F.lit(":")), F.regexp_replace(hostport, r":\d+$", "")
    ).otherwise(hostport)


def root_url_col(url: Column) -> Column:
    """scheme://host root normalization — reference F2 (brave_search.py:114-115)."""
    u = F.trim(url)
    scheme_raw = F.lower(F.regexp_extract(u, _URL_RE, 1))
    scheme = F.when(scheme_raw == "", F.lit("http")).otherwise(scheme_raw)
    return F.concat(scheme, F.lit("://"), host_of_col(url))


def url_hash_col(url_canon: Column) -> Column:
    """Portable 60-bit hash of the canonical URL (md5-derived, always >= 0)."""
    return F.conv(F.substring(F.md5(url_canon), 1, 15), 16, 10).cast("long")


def is_blacklisted_col(host: Column, blacklist: tuple[str, ...] = BLACKLIST) -> Column:
    """True when any blacklist entry is a substring of host (reference P1)."""
    arr = F.array(*[F.lit(b) for b in blacklist])
    return F.exists(arr, lambda b: F.contains(host, b))


# --------------------------------------------------------------- Python twin
_url_re_py = re.compile(_URL_RE)


def canonicalize_url_py(url: str) -> str:
    """Pure-Python twin of :func:`canonicalize_url_col` (oracle + tests)."""
    m = _url_re_py.match(url.strip())
    assert m is not None  # the regex matches any string
    scheme = (m.group(1) or "http").lower()
    hostport = (m.group(2) or "").lower()
    pm = re.search(r":(\d+)$", hostport)
    port = pm.group(1) if pm else ""
    host = re.sub(r":\d+$", "", hostport)
    authority = host
    if port and _DEFAULT_PORTS.get(scheme) != port:
        authority += ":" + port
    path = re.sub(r"/+$", "", m.group(3) or "") or "/"
    query_raw = m.group(4) or ""
    query = "?" + "&".join(sorted(query_raw.split("&"))) if query_raw else ""
    return f"{scheme}://{authority}{path}{query}"


def host_of_py(url: str) -> str:
    m = _url_re_py.match(url.strip())
    assert m is not None
    return re.sub(r":\d+$", "", (m.group(2) or "").lower())


def url_hash_py(url_canon: str) -> int:
    """Portable 60-bit hash — exactly equal to :func:`url_hash_col`."""
    return int(hashlib.md5(url_canon.encode("utf-8")).hexdigest()[:15], 16)


def is_blacklisted_py(host: str, blacklist: tuple[str, ...] = BLACKLIST) -> bool:
    return any(b in host for b in blacklist)
