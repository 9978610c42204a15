"""URL canonicalization + hashing — the engine's core scalar surface.

Semantics reproduce the reference's URL key form (reference:
warcbase-hbase/src/main/java/org/warcbase/data/UrlUtils.java:29-47 — host
labels reversed ``www.house.gov`` → ``gov.house.www``, explicit port kept,
file part appended; golden vectors in UrlUtilsTest.java:25-48) composed with
RFC-3986 normalization required by the north rule (lowercase scheme/host,
default-port drop, dot-segment removal, percent-encoding normalization).
Unlike the reference — which uses TWO canonicalizers (UrlUtils on ingest,
wayback's AggressiveUrlCanonicalizer on the query path,
WarcbaseResourceIndex.java:77) — this engine uses exactly one everywhere.

The Spark surface is ONE Arrow-vectorized struct UDF, ``canon_struct_udf``
(via ``canonical_cols``): a single ArrowEvalPython stage per row batch that
returns (url_key, host), with no per-row Python UDFs anywhere.  ``url_hash``
is computed JVM-side with ``xxhash64`` over the canonical key (64-bit; the
reference's 32-bit ``url.hashCode`` vertex id at ExtractGraph.scala:35-37 is
collision-prone at 10^10 scale, which is why we widen).  The per-row
functions below (``canonicalize``, ``url_to_key``, ...) are the reference
semantics that ``canonical_batch`` falls back to and is tested against.
"""

from __future__ import annotations

import posixpath
import re
from urllib.parse import unquote, urlsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DEFAULT_PORTS = {"http": 80, "https": 443, "ftp": 21}
_HOST_RE = re.compile(r"^[a-z0-9.\-_]+$")
# RFC 3986 unreserved characters — percent-escapes of these are decoded
_UNRESERVED = set("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~")


def _normalize_percent(s: str) -> str:
    """Uppercase percent escapes; decode escapes of unreserved chars."""

    def repl(m: re.Match) -> str:
        ch = unquote(m.group(0))
        return ch if ch in _UNRESERVED else m.group(0).upper()

    return re.sub(r"%[0-9a-fA-F]{2}", repl, s)


def _remove_dot_segments(path: str) -> str:
    if not path:
        return "/"
    normalized = posixpath.normpath(path)
    if normalized == ".":
        normalized = "/"
    if path.endswith("/") and not normalized.endswith("/"):
        normalized += "/"
    return normalized


def reverse_hostname(host: str) -> str | None:
    """``www.house.gov`` → ``gov.house.www``; port suffix preserved.

    Reference: UrlUtils.reverseHostname (UrlUtils.java:49-60),
    vectors UrlUtilsTest.java:34-48 (``foo.bar.com:8080`` → ``com.bar.foo:8080``).
    """
    if host is None:
        return None
    port = ""
    h = host
    if ":" in host:
        h, _, p = host.partition(":")
        port = ":" + p
    labels = [x for x in h.split(".") if x != ""]
    if not labels:
        return None
    return ".".join(reversed(labels)) + port


def unreverse_hostname(rev: str) -> str | None:
    return reverse_hostname(rev)  # reversal is an involution


def canonicalize(url: str | None) -> str | None:
    """Full canonical form: normalized URL string (scheme kept).

    Returns None on malformed input (null propagates; the frontier counts
    these as ``invalid_urls``, mirroring IngestFiles.java:137-141).
    """
    if url is None:
        return None
    url = url.strip()
    if not url or " " in url:
        return None
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https", "ftp"):
        return None
    try:
        host = (parts.hostname or "").lower().rstrip(".")
    except ValueError:
        return None
    if not host or not _HOST_RE.match(host):
        return None
    try:
        port = parts.port  # raises ValueError on malformed ports, e.g. "h::"
    except ValueError:
        return None
    netloc = host
    if port is not None and port != _DEFAULT_PORTS.get(scheme):
        netloc = f"{host}:{port}"
    path = _normalize_percent(_remove_dot_segments(parts.path or "/"))
    query = _normalize_percent(parts.query)
    out = f"{scheme}://{netloc}{path}"
    if query:
        out += f"?{query}"
    return out  # fragment dropped


def url_to_key(url: str | None) -> str | None:
    """Canonical sort key: reversed-host + optional :port + path[?query].

    ``http://www.house.gov/mthompson/the_1st_district.htm``
        → ``gov.house.www/mthompson/the_1st_district.htm``
    (golden vector, UrlUtilsTest.java:25-31).  Reversed-host keys make every
    domain a contiguous key range — the same sort-locality trick the
    reference exploits for HBase scans and FST prefix ranges
    (PrefixMapping.java:61-93); here it powers Parquet/Iceberg min-max
    pruning and `LIKE 'prefix%'` range predicates.
    """
    c = canonicalize(url)
    if c is None:
        return None
    parts = urlsplit(c)
    netloc = parts.netloc
    rev = reverse_hostname(netloc)
    if rev is None:
        return None
    path = parts.path or "/"
    out = rev + path
    if parts.query:
        out += "?" + parts.query
    return out


def key_to_url(key: str | None, scheme: str = "http") -> str | None:
    """Inverse of url_to_key (reference: UrlUtils.keyToUrl, UrlUtils.java:49-71)."""
    if key is None:
        return None
    slash = key.find("/")
    if slash < 0:
        rev_host, path = key, "/"
    else:
        rev_host, path = key[:slash], key[slash:]
    host = unreverse_hostname(rev_host)
    if host is None:
        return None
    return f"{scheme}://{host}{path}"


def host_of_key(key: str) -> str | None:
    """Registered host (forward order, lowercase) from a url_key."""
    if key is None:
        return None
    rev = key.split("/", 1)[0]
    return unreverse_hostname(rev)


def get_file_type(url: str | None) -> str | None:
    """Crude extension extraction (reference: UrlUtils.getFileType,
    UrlUtils.java:74-89 — ≤8 chars, not a bare digit)."""
    if not url:
        return None
    path = url.split("?", 1)[0].split("#", 1)[0]
    base = path.rsplit("/", 1)[-1]
    if "." not in base:
        return None
    ext = base.rsplit(".", 1)[-1]
    if not ext or len(ext) > 8 or (len(ext) == 1 and ext.isdigit()):
        return None
    return ext.lower()


# ---------------------------------------------------------------------------
# Column-expression helpers (JVM-side, codegen'd) for domain extraction
# ---------------------------------------------------------------------------

def strip_scheme_col(url: Column) -> Column:
    return F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://", "")


def host_col(url: Column) -> Column:
    """Host of a URL, JVM-side (reference ExtractDomain, ExtractDomain.scala:22-36)."""
    return F.lower(F.split(strip_scheme_col(url), "[/:?#]").getItem(0))


_CANON_STRUCT = T.StructType(
    [T.StructField("url_key", T.StringType()), T.StructField("host", T.StringType())]
)

# \Z = absolute end (Python): `$` would match before a trailing newline,
# admitting "http://a.com\n" to the fast path with a corrupt key/host, while
# the slow path strips it — breaking the fast/slow equivalence contract that
# the seen-set dedup and politeness joins rely on.
_ELIG_RE = re.compile(r"^(http|https|ftp)://[a-z0-9][a-z0-9._\-]*(/[^\s?#%]*)?\Z")


def canonical_batch(urls: pd.Series) -> pd.DataFrame:
    """Vectorized (url → url_key, host) over a pandas batch.

    Fast path — URLs with lowercase scheme/host, no port/userinfo/percent/
    query/fragment/dot-segments — is pure pandas str kernels; only the
    residue takes the per-row ``url_to_key`` reference implementation. The
    two paths are equivalence-tested in tests/test_urls.py and
    tests/test_urls_property.py.
    """
    s = urls
    keys = pd.Series(None, index=s.index, dtype=object)
    hosts = pd.Series(None, index=s.index, dtype=object)

    elig = s.str.match(_ELIG_RE, na=False)
    if elig.any():
        rest = s[elig].str.replace(r"^[a-z]+://", "", regex=True)
        sp = rest.str.split("/", n=1)
        host = sp.str[0]
        path = "/" + sp.str[1].fillna("")
        bad = (
            host.str.contains("..", regex=False)
            | host.str.endswith(".")
            | path.str.contains("//", regex=False)
            | path.str.contains("/./", regex=False)
            | path.str.contains("/../", regex=False)
            | path.str.endswith("/.")
            | path.str.endswith("/..")
        )
        ok = elig.copy()
        ok.loc[bad.index[bad]] = False  # bool-into-bool; no dtype-upcast setitem
        if ok.any():
            h = host[~bad]
            rev = h.map(lambda x: ".".join(reversed(x.split("."))))
            keys[ok] = rev + path[~bad]
            hosts[ok] = h
        elig = ok

    slow_mask = ~elig & s.notna()
    if slow_mask.any():
        ks = s[slow_mask].map(url_to_key)
        keys[slow_mask] = ks
        hosts[slow_mask] = ks.map(host_of_key, na_action="ignore")
    # NaN (pandas missing) → None so pure-pandas callers see real nulls
    return pd.DataFrame(
        {"url_key": keys.where(keys.notna(), None), "host": hosts.where(hosts.notna(), None)}
    )


@F.pandas_udf(_CANON_STRUCT)
def canon_struct_udf(urls: pd.Series) -> pd.DataFrame:
    return canonical_batch(urls)


def canonical_cols(url: Column) -> tuple[Column, Column]:
    """(url_key, host) from a raw URL — the frontier hot path.

    One self-contained Arrow UDF (vectorized fast path INSIDE Python):
    downstream consumers (xxhash64, bloom hashes, joins) then reference the
    UDF's output attribute. Splitting the fast path out into JVM Column
    expressions instead makes Catalyst's projection collapse inline the
    whole regex+UDF tree once per consumer — measured 6× slower on the
    frontier pipeline.
    """
    s = canon_struct_udf(url)
    return s["url_key"], s["host"]

