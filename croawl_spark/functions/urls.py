"""URL canonicalization (F3), host/part extraction (F4), stable hashing (F5).

The canonicalization rules are PINNED HERE (SURVEY.md §2.2 F3) and shared
verbatim with the single-process oracle simulator (tests/oracle_sim.py), so
engine and oracle cannot drift. They are an RFC 3986 §6 normalization subset:

  1. scheme and host lowercased
  2. fragment stripped
  3. default port removed (http:80, https:443)
  4. path dot-segments resolved (RFC 3986 §5.2.4)
  5. percent-encodings uppercased; unreserved characters (ALPHA / DIGIT /
     '-' '.' '_' '~') percent-DEcoded
  6. empty path -> "/"
  7. query kept byte-for-byte in original order (croawl targets scholarly
     landing pages where query order is significant); empty "?" dropped
  8. userinfo preserved as-is (rare; never part of host matching)

Spark-side there is no per-row JVM<->Python crossing (BASELINE.json
input_hint: "no per-row Python"). The crawl cycle canonicalizes outlinks
with ``canonicalize_url`` inside its fused fetch+parse pass, where the
links are already Python strings; the *vectorized* pandas UDF
(``canon``, Arrow batches) serves DataFrame columns — the bootstrap's
seeds and the verify_queries battery. Host extraction and hashing use
pure built-ins (parse_url / xxhash64) so they stay inside whole-stage
codegen.
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_DEFAULT_PORTS = {"http": "80", "https": "443"}
_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_PCT_RE = re.compile(r"%([0-9A-Fa-f]{2})")


def _norm_pct(s: str) -> str:
    """Uppercase percent-encodings; decode unreserved chars."""

    def repl(m: re.Match) -> str:
        ch = chr(int(m.group(1), 16))
        if ch in _UNRESERVED:
            return ch
        return "%" + m.group(1).upper()

    return _PCT_RE.sub(repl, s)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments."""
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
                if not out:
                    out = [""]
            continue
        out.append(seg)
    # re-add trailing slash semantics for '.' / '..' enders
    if path.endswith(("/.", "/..")) and (not out or out[-1] != ""):
        out.append("")
    norm = "/".join(out)
    if path.startswith("/") and not norm.startswith("/"):
        norm = "/" + norm
    return norm


def canonicalize_url(url: str | None) -> str | None:
    """Pure-Python canonicalization — the single source of truth (F3).

    Returns None for None/empty/unparseable or non-http(s) inputs (those are
    dropped from the frontier).
    """
    if url is None:
        return None
    url = url.strip()
    if not url:
        return None
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    host = (parts.hostname or "").lower()
    if not host:
        return None
    port = None
    try:
        port = parts.port  # may raise for garbage ports
    except ValueError:
        return None
    userinfo = ""
    if parts.username:
        userinfo = parts.username
        if parts.password:
            userinfo += ":" + parts.password
        userinfo += "@"
    netloc = userinfo + host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme):
        netloc += f":{port}"
    path = _norm_pct(_remove_dot_segments(parts.path)) or "/"
    query = _norm_pct(parts.query)
    return urlunsplit((scheme, netloc, path, query, ""))


# Fast path: URLs already in canonical form pass through untouched. The
# regex admits ONLY strings canonicalize_url maps to themselves (lowercase
# scheme+host, no port/userinfo/fragment/percent-escapes/whitespace, non-empty
# path, no dot-segments, non-empty query if '?') — equivalence is enforced by
# tests/test_extract.py::test_canonicalize_fast_path_equivalence. On real link
# streams the plain-URL majority skips Python entirely (pandas C regex).
_FAST_RE = re.compile(
    r"^https?://[a-z0-9]([a-z0-9.\-]*[a-z0-9])?/[^?#%\s]*(\?[^?#%\s]+)?$"
)
_DOTSEG_RE = re.compile(r"/\.{1,2}(?=/|$|\?)")


@pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    """Arrow-vectorized canonicalization; one Python batch per ~10k rows."""
    fast = urls.str.match(_FAST_RE, na=False) & ~urls.str.contains(
        _DOTSEG_RE, regex=True, na=False
    )
    out = urls.copy()
    slow = ~fast
    out[slow] = urls[slow].map(canonicalize_url)
    return out


def canon(col: Column | str) -> Column:
    """DataFrame-facing canonicalization expression."""
    return canonicalize_udf(F.col(col) if isinstance(col, str) else col)


def host_of(col: Column | str) -> Column:
    """Host extraction via the JVM built-in (stays in codegen; F4)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.parse_url(c, F.lit("HOST")))


def url_hash(col: Column | str) -> Column:
    """64-bit stable hash of the canonical URL (F5).

    xxhash64 is seed-stable across runs, Spark versions and cluster sizes for
    identical input bytes — the partitioning + seen-set key at the 10^10-URL
    design point. Correctness NEVER depends on the hash value itself
    (ordering ties break on data columns, seen-set equality is checked on
    canon_url), so a hash collision only costs an extra exact-compare.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c)


def path_of(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.parse_url(c, F.lit("PATH")), F.lit("/"))
