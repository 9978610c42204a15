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

The Spark surface is ONE struct-returning ``arrow_udf``, ``canon_struct_udf``
(via ``canonical_cols``): a single ArrowEvalPython stage per row batch that
runs ``canonical_arrow`` — pyarrow.compute kernels on the ``pa.Array`` Spark
hands over, no pandas conversion — and returns (url_key, host), with no
per-row Python UDFs anywhere.  ``url_hash``
is computed JVM-side with ``xxhash64`` over the canonical key (64-bit; the
reference's 32-bit ``url.hashCode`` vertex id at ExtractGraph.scala:35-37 is
collision-prone at 10^10 scale, which is why we widen).  The per-row
functions below (``canonicalize``, ``url_to_key``, ...) are the reference
semantics that ``canonical_arrow`` falls back to and is tested against.
"""

from __future__ import annotations

import posixpath
import re
from urllib.parse import unquote, urlsplit

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DEFAULT_PORTS = {"http": 80, "https": 443, "ftp": 21}
_HOST_RE = re.compile(r"^[a-z0-9.\-_]+$")
# whitespace left inside a stripped URL makes it malformed; tab, CR and LF
# are the exception, since urlsplit deletes them. Accepting the rest would
# break idempotence: "http://a/\x1f#" canonicalizes to "http://a/\x1f",
# which strip() then shortens to "http://a/".
_INNER_WS_RE = re.compile(r"[^\S\t\r\n]")
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
    if not url or _INNER_WS_RE.search(url):
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


_CANON_STRUCT = T.StructType(
    [T.StructField("url_key", T.StringType()), T.StructField("host", T.StringType())]
)

# One RE2 match decides the fast path and splits it: an http/https/ftp
# scheme in any case, a host of ASCII letters/digits/``._-`` in any case with
# no empty label and no trailing dot, and an optional path of printable ASCII
# without ``?#%`` (so no query, fragment, percent-escape, port, userinfo or
# whitespace). RE2's ``$`` is the absolute end of the text, so a trailing
# newline is never admitted. Everything else is the residue.
_PATH_CHARS = r"\x21\x22\x24\x26-\x3e\x40-\x7e"
_FAST_RE = (
    r"^(?i:https?|ftp)://"
    r"(?P<host>[A-Za-z0-9][A-Za-z0-9_\-]*(?:\.[A-Za-z0-9_\-]+)*)"
    r"(?:/(?P<path>[" + _PATH_CHARS + r"]*))?$"
)
# path forms that dot-segment removal would rewrite: ``//``, ``/./``,
# ``/../`` and a trailing ``/.`` or ``/..`` (a key's host part has no ``/``,
# so matching the whole key only ever matches in its path)
_DOT_PATH_RE = r"//|/\.\.?(?:/|$)"


def _reverse_labels(host: pa.Array) -> pa.Array:
    """``www.house.gov`` → ``gov.house.www`` with Arrow kernels: reverse the
    whole string, split on ``.``, reverse each label back, rejoin."""
    labels = pc.split_pattern(pc.ascii_reverse(host), ".")
    fixed = type(labels).from_arrays(
        labels.offsets, pc.ascii_reverse(labels.values), mask=labels.is_null()
    )
    return pc.binary_join(fixed, pa.scalar(".", host.type))


def canonical_arrow(urls: pa.Array) -> pa.StructArray:
    """(url_key, host) for an Arrow string array of raw URLs.

    The fast path is pyarrow.compute kernels over the whole batch; only the
    residue (and nulls) take the per-row ``url_to_key`` reference. The two
    paths are equivalence-tested in tests/test_urls.py and
    tests/test_urls_property.py.
    """
    parts = pc.extract_regex(urls, _FAST_RE)
    host = pc.ascii_lower(pc.struct_field(parts, "host"))
    path = pc.struct_field(parts, "path")  # after the host's "/"; "" if none
    key = pc.binary_join_element_wise(_reverse_labels(host), path, pa.scalar("/", path.type))
    slow = pc.fill_null(pc.match_substring_regex(key, _DOT_PATH_RE), True)
    if pc.any(slow).as_py():
        keys = [url_to_key(u) for u in pc.filter(urls, slow).to_pylist()]
        key = pc.replace_with_mask(key, slow, pa.array(keys, key.type))
        hosts = [host_of_key(k) for k in keys]
        host = pc.replace_with_mask(host, slow, pa.array(hosts, host.type))
    return pa.StructArray.from_arrays([key, host], names=["url_key", "host"])


@F.arrow_udf(_CANON_STRUCT)
def canon_struct_udf(urls: pa.Array) -> pa.Array:
    return canonical_arrow(urls)


def canonical_cols(url: Column) -> tuple[Column, Column]:
    """(url_key, host) from a raw URL — the frontier hot path.

    One self-contained Arrow UDF whose fast path is pyarrow.compute kernels
    (``canonical_arrow``): downstream consumers (xxhash64, bloom hashes,
    joins) then reference the UDF's output attribute. Splitting the fast path out into JVM Column
    expressions instead makes Catalyst's projection collapse inline the
    whole regex+UDF tree once per consumer — measured 6× slower on the
    frontier pipeline.
    """
    s = canon_struct_udf(url)
    return s["url_key"], s["host"]
