"""A2/A3 — URL canonicalization + hashing (SURVEY §2.A).

The reference canonicalizes URLs before its in-memory seen-set check
(expected: alcazar fetcher/utils — unverified, reference absent; spec frozen
here per SURVEY §0.2).  ``canonicalize`` is a *pure, deterministic* function:
it is load-bearing for the URL-seen invariant [BASELINE.json:6
"canonicalized-URL hashing"], so it is property-tested (idempotence,
case-insensitivity, fragment stripping) and shared verbatim by the Spark
pandas-UDF path and the single-threaded model crawler.

Frozen canonicalization spec
----------------------------
1. scheme and host lowercased; trailing ``.`` stripped from host
2. default ports removed (http:80, https:443)
3. fragment removed
4. percent-encoding normalized per RFC 3986 §6.2.2: escapes of
   UNRESERVED octets (ALPHA / DIGIT / - . _ ~) decoded, all other
   escapes uppercased and LEFT ENCODED — %2F never becomes a path
   separator, so distinct URLs stay distinct; raw disallowed
   characters (spaces, non-ASCII) are percent-quoted
5. dot-segments resolved in the path; empty path → ``/``
6. query: ``key=value`` pairs parsed (blank values kept), tracking params
   dropped (utm_*, fbclid, gclid, msclkid, mc_eid, igshid, ref_src),
   remaining pairs sorted by (key, value) and re-encoded
"""

from __future__ import annotations

import posixpath
import re
from urllib.parse import parse_qsl, quote, urlencode, urlsplit, urlunsplit

import pandas as pd

from .hashing import spark_xxhash64_str

_DEFAULT_PORTS = {"http": "80", "https": "443"}
_TRACKING_RE = re.compile(r"^(utm_.*|fbclid|gclid|msclkid|mc_eid|igshid|ref_src)$")
# RFC 3986 unreserved + sub-delims commonly left literal in paths
_PATH_SAFE = "/:@!$&'()*+,;=~-._"
_QUERY_SAFE = "~-._"


_UNRESERVED = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~")
_HEX = frozenset("0123456789abcdefABCDEF")


def _norm_pct(path: str) -> str:
    """Spec item 4: decode escapes of unreserved octets only; uppercase
    the rest (reserved octets stay encoded — decoding %2F would merge
    distinct URLs by conjuring a path separator)."""
    out = []
    i, n = 0, len(path)
    while i < n:
        c = path[i]
        if (c == "%" and i + 2 < n
                and path[i + 1] in _HEX and path[i + 2] in _HEX):
            octet = chr(int(path[i + 1:i + 3], 16))
            if octet in _UNRESERVED:
                out.append(octet)
            else:
                out.append("%" + path[i + 1:i + 3].upper())
            i += 3
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _canon_path(path: str) -> str:
    if not path:
        return "/"
    # escape normalization FIRST: afterwards every literal '/' is a real
    # separator (encoded ones stayed %2F) so dot-segment resolution is
    # structure-safe.  %2E decodes to '.' (unreserved) and then resolves
    # — the RFC 3986 §6.2.2.3 equivalence.
    decoded = _norm_pct(path)
    normalized = posixpath.normpath(decoded)
    # posixpath.normpath collapses trailing slash; preserve it (distinct URL)
    if decoded != "/" and decoded.endswith("/") and not normalized.endswith("/"):
        normalized += "/"
    if not normalized.startswith("/"):
        normalized = "/" + normalized
    if normalized.startswith("//"):  # normpath keeps leading '//'
        normalized = "/" + normalized.lstrip("/")
    # quote raw disallowed chars; '%' is safe so existing escapes survive
    return quote(normalized, safe=_PATH_SAFE + "%")


def canonicalize(url: str) -> str:
    """Canonical form of *url* (pure; idempotent)."""
    if url is None:
        return None
    try:
        parts = urlsplit(url.strip())
    except ValueError:
        return url.strip()
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower().rstrip(".")
    port = parts.port
    netloc = host
    if parts.username:
        userinfo = parts.username + (":" + parts.password if parts.password else "")
        netloc = userinfo + "@" + netloc
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{netloc}:{port}"
    path = _canon_path(parts.path) if netloc else parts.path
    pairs = [
        (k, v)
        for k, v in parse_qsl(parts.query, keep_blank_values=True)
        if not _TRACKING_RE.match(k)
    ]
    pairs.sort()
    query = urlencode(pairs, safe=_QUERY_SAFE)
    return urlunsplit((scheme, netloc, path, query, ""))


def url_host(url: str) -> str:
    """Lowercased host of *url* ('' when unparseable)."""
    try:
        return (urlsplit(url).hostname or "").lower().rstrip(".")
    except ValueError:
        return ""


def url_hash(url_canon: str) -> int:
    """Signed 64-bit hash of the canonical URL — identical to Spark's
    ``F.xxhash64(url_canon)`` (verified in tests/test_hashing.py)."""
    return spark_xxhash64_str(url_canon)


# --- pandas wrappers (vectorized UDF bodies; registered in frontier.py) ---

def canonicalize_series(urls: pd.Series) -> pd.Series:
    return urls.map(canonicalize)


def host_series(urls: pd.Series) -> pd.Series:
    return urls.map(url_host)


def canonicalize_frame(urls: pd.Series) -> pd.DataFrame:
    """(url_canon, host) in one pass: the host is read off the canonical
    form, so one Arrow UDF yields both columns."""
    canon = canonicalize_series(urls)
    return pd.DataFrame({"url_canon": canon, "host": host_series(canon)})
