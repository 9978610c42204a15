"""Property-based canonicalizer tests (hypothesis): the Arrow kernel
implementation must agree with the per-row reference implementation on
ARBITRARY input strings, and canonicalization must be idempotent."""

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from warcbase_spark.functions.urls import canonical_arrow, canonicalize, host_of_key, url_to_key

# URL-ish strings: both well-formed and garbage
# the odd characters are where RE2 and Python's \s / str.strip disagree,
# plus non-ASCII letters in hosts and paths
_ODD = "\x0b\x0c\x1c\x1d\x1e\x1f\x85\xa0\u2028\n"
_scheme = st.sampled_from(["http", "https", "ftp", "HTTP", "Https", "FTP", "hxxp", ""])
_host = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFXYZ019.-_:@ü" + _ODD, min_size=0, max_size=20
)
_path = st.text(
    alphabet="abcdefXYZ019./%?#=&~ .:\t\\[]@é" + _ODD, min_size=0, max_size=30
)
_urlish = st.builds(lambda s, h, p: f"{s}://{h}/{p}" if s else h + p, _scheme, _host, _path)
_any_str = st.one_of(_urlish, st.text(max_size=40), st.none())


@settings(max_examples=300, deadline=None)
@given(st.lists(_any_str, min_size=0, max_size=30))
def test_canonical_arrow_equals_reference(urls):
    out = canonical_arrow(pa.array(urls, pa.string()))
    assert len(out) == len(urls)
    for u, k, h in zip(urls, out.field("url_key").to_pylist(), out.field("host").to_pylist()):
        ek = url_to_key(u)
        assert k == ek, (u, k, ek)
        assert h == (host_of_key(ek) if ek else None), (u, h)


@settings(max_examples=300, deadline=None)
@given(_any_str)
def test_canonicalize_idempotent(u):
    c = canonicalize(u)
    if c is not None:
        assert canonicalize(c) == c, (u, c)


@settings(max_examples=300, deadline=None)
@given(_any_str)
def test_url_to_key_stable_under_canonicalize(u):
    """key(url) == key(canonicalize(url)) whenever the url is valid."""
    c = canonicalize(u)
    if c is not None:
        assert url_to_key(u) == url_to_key(c), (u, c)
