"""Matchbox scalar surface re-expressed as Column expressions.

Each function mirrors one reference "matchbox" UDF object (SURVEY.md §2.7)
but is a JVM-side Column expression wherever possible so Catalyst folds it
into WholeStageCodegen; only genuinely non-expressible ops fall back to
Arrow-vectorized pandas UDFs (none in this module).

Reference files cited per function are under
warcbase-core/src/main/scala/org/warcbase/spark/matchbox/.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def extract_urls(text: Column) -> Column:
    """All http(s) URLs in text (ExtractUrls.scala:19-22 regex)."""
    return F.regexp_extract_all(text, F.lit(r"https?://[^ ]+"), 0)


def detect_mime_magic(payload: Column) -> Column:
    """X12 DetectMimeTypeTika (DetectMimeTypeTika.scala:22-25) — lib-free
    heuristic: magic-bytes prefix match as pure Column ops (hex of the
    leading bytes, whole-stage-codegen'd; no Tika, no Python). Covers the
    signatures a web archive actually hits; everything else falls back to
    text/plain (Tika's octet-stream default is reserved for the gated real
    path, detect_mime_tika)."""
    h = F.hex(F.substring(payload, 1, 12))  # uppercase hex prefix
    # binary → string via cast, NOT F.decode('UTF-8'): decode VALIDATES and
    # throws MALFORMED_CHARACTER_CODING on invalid UTF-8 (BMP/WebP/MP3/
    # truncated payloads — routine in real archives), killing the job; cast
    # wraps the bytes unvalidated and never throws, and the HTML sniff only
    # inspects ASCII prefixes, which survive either way.
    txt = F.lower(F.ltrim(payload.cast("string")))
    # RIFF containers (WebP/WAV/AVI) discriminate on bytes 9-12; MP4-family
    # on the 'ftyp' box at offset 5 (hex chars 9-16)
    riff_kind = F.substring(h, 17, 8)
    return (
        F.when(h.startswith("89504E470D0A1A0A"), "image/png")
        .when(h.startswith("FFD8FF"), "image/jpeg")
        .when(h.startswith("47494638"), "image/gif")
        .when(h.startswith("424D"), "image/bmp")
        # ftyp (MP4 family) before ICO: an MP4 whose leading box length is
        # exactly 0x00000100 is legal and would otherwise hit the ICO prefix
        .when(F.substring(h, 9, 8) == "66747970", "video/mp4")
        .when(h.startswith("00000100"), "image/x-icon")
        .when(h.startswith("49492A00") | h.startswith("4D4D002A"), "image/tiff")
        .when(h.startswith("52494646") & (riff_kind == "57454250"), "image/webp")
        .when(h.startswith("52494646") & (riff_kind == "57415645"), "audio/x-wav")
        .when(h.startswith("52494646") & (riff_kind == "41564920"), "video/x-msvideo")
        .when(h.startswith("25504446"), "application/pdf")
        .when(h.startswith("504B0304"), "application/zip")
        .when(h.startswith("1F8B"), "application/gzip")
        .when(h.startswith("377ABCAF271C"), "application/x-7z-compressed")
        .when(h.startswith("494433") | h.startswith("FFFB") | h.startswith("FFF3"), "audio/mpeg")
        .when(h.startswith("4F676753"), "application/ogg")
        .when(h.startswith("664C6143"), "audio/x-flac")
        .when(h.startswith("000001BA") | h.startswith("000001B3"), "video/mpeg")
        .when(h.startswith("1A45DFA3"), "video/webm")
        .when(txt.startswith("<!doctype html") | txt.startswith("<html"), "text/html")
        .otherwise("text/plain")
    )


def detect_mime_tika(payload: Column) -> Column:
    """Real Tika-equivalent detection — lib-gated: this container ships no
    tika/magic bindings. Raises at plan time rather than silently degrading;
    use detect_mime_magic for the heuristic path."""
    try:
        import tika  # noqa: F401
    except ImportError:
        raise NotImplementedError(
            "tika is not available in this environment; use detect_mime_magic"
        )
    raise NotImplementedError("tika bridge not wired; use detect_mime_magic")


# --- tweet accessors (TweetUtils.scala:9-18) over a parsed JSON struct ---

def tweet_field(json_col: Column, field: str) -> Column:
    """Null-safe JSON path extract; works on a string column via
    get_json_object. ``isVerifiedUser`` in the reference compares
    screen_name == "false" (a bug); we implement intended ``user.verified``."""
    paths = {
        "id": "$.id_str",
        "created_at": "$.created_at",
        "text": "$.text",
        "lang": "$.lang",
        "username": "$.user.screen_name",
        "verified": "$.user.verified",
        "follower_count": "$.user.followers_count",
        "friend_count": "$.user.friends_count",
    }
    return F.get_json_object(json_col, paths[field])
