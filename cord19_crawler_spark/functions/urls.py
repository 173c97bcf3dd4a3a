"""URL extraction + canonicalization kernels.

Frontier analogue of the reference's text-canonicalization kernel
(``/root/reference/src/crawler.py:13-15,51-57`` — lowercase, collapse space,
strip punct class): here the canonical form of a URL is

  * scheme lowercased, only http/https kept
  * host lowercased, trailing dot removed, default port (80/443) stripped
  * fragment stripped
  * query params sorted by (key, value), duplicates kept
  * empty path normalized to "/"

``canonicalize_one`` is the one Python implementation of this grammar.
The pandas UDFs ``canonicalize_url`` and ``extract_canonical_urls`` map it
over Arrow batches (~10k rows per Python exchange — the batch amortizes
the boundary, so no per-row Python UDF sits in the hot path).
``canonicalize_url_sql`` is the pure-Catalyst form for the simple grammar
(no userinfo, no percent-encoding); it agrees with ``canonicalize_one``
there, NULL for None, ports and trailing host dots included
(tests/test_urls.py).
"""

from __future__ import annotations

import re
from urllib.parse import parse_qsl, urlencode, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# Matches http(s) URLs embedded in span text; trailing sentence punctuation is
# stripped afterwards so "see http://a.com/x." yields "http://a.com/x".
URL_RE = re.compile(r"https?://[^\s<>\"'\)\]]+", re.IGNORECASE)
_TRAIL_PUNCT = ".,;:!?"


def canonicalize_one(url: str) -> str | None:
    """Canonicalize a single URL string; None if not a valid http(s) URL.

    Idempotent: canonicalize(canonicalize(u)) == canonicalize(u) (property-
    tested). Trailing-sentence-punctuation stripping is an EXTRACTION
    heuristic, not a canonicalization step — it lives in the extract kernels
    only, else a legitimate path ending in '.' would never be a fixed point.
    """
    if not url:
        return None
    url = url.strip()
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    host = (parts.hostname or "").lower().rstrip(".")
    if not host:
        return None
    port = None
    try:
        port = parts.port
    except ValueError:
        return None
    default_port = 80 if scheme == "http" else 443
    netloc = host if (port is None or port == default_port) else f"{host}:{port}"
    path = parts.path or "/"
    query = urlencode(sorted(parse_qsl(parts.query, keep_blank_values=True)))
    return urlunsplit((scheme, netloc, path, query, ""))


@pandas_udf(T.StringType())
def canonicalize_url(urls: pd.Series) -> pd.Series:
    """URL canonicalization over an Arrow batch: ``canonicalize_one`` per
    row (the batch already amortizes the Python boundary)."""
    return urls.map(canonicalize_one)


@pandas_udf(T.ArrayType(T.StringType()))
def extract_canonical_urls(texts: pd.Series) -> pd.Series:
    """Fused extract+canonicalize in ONE Arrow stage (one Python exchange per
    round instead of two — the hot-path kernel the scheduler uses): http(s)
    URLs found in each text, trailing sentence punctuation stripped, then
    canonicalized in order; hits that do not canonicalize are dropped."""

    def _links(text: str | None) -> list[str]:
        if not text:
            return []
        hits = (m.rstrip(_TRAIL_PUNCT) for m in URL_RE.findall(text))
        return [c for c in map(canonicalize_one, hits) if c is not None]

    return texts.map(_links)


def host_from_canonical(col: Column) -> Column:
    """Host of an already-canonical URL — pure Catalyst (codegen'd), since
    canonical form guarantees ``scheme://host[:port]/...``. Strips the
    port; for the port-KEEPING authority (distinct origins stay
    distinct), use :func:`authority_expr`."""
    return F.regexp_extract(col, r"^https?://([^/:]+)", 1)


# The one generic-URL authority/path grammar, shared by every operator
# that parses arbitrary (possibly non-canonical) URLs — traps, crawl
# diff, SURT keys — so a parsing fix lands in one place. Oracle SQL
# mirrors cite these literals.
AUTHORITY_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"
PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)"
REST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(.*)$"


def authority_expr(col: Column) -> Column:
    """Authority (host[:port]) of a generic URL; '' when unparseable."""
    return F.regexp_extract(col, AUTHORITY_RE, 1)


def path_expr(col: Column) -> Column:
    """Path of a generic URL (query/fragment excluded)."""
    return F.regexp_extract(col, PATH_RE, 1)


def url_id(col: Column | str) -> Column:
    """Stable 64-bit id for a canonical URL (frontier analogue of the
    reference's dense int doc-id mapping, src/barreled_index.py:139-156).

    xxhash64 is JVM-side + deterministic across runs/partitionings.
    """
    return F.xxhash64(F.col(col) if isinstance(col, str) else col)


def canonicalize_url_sql(col: Column) -> Column:
    """A pure-Catalyst (JVM, codegen'd) canonicalizer for the common case:
    lowercase scheme+host, strip fragment, strip default/normalize numeric
    ports, sort query params. Used when the URL grammar is known to be
    simple (no userinfo, no encoded chars) — ``canonicalize_one`` is the
    general-purpose kernel, this is the fast path that stays inside
    WholeStageCodegen.  NULL where ``canonicalize_one`` gives None: a
    scheme other than http(s), an empty host (``http://./x``), a port
    above 65535 or with a non-digit (``:8o``).  An empty port
    (``a.com:/x``) is dropped.  Equality with ``canonicalize_one`` on
    this grammar (ports and trailing host dots included) is pinned by
    tests/test_urls.py; userinfo and percent-encoding are outside it.
    """
    no_frag = F.regexp_replace(col, r"#.*$", "")
    base = F.regexp_extract(no_frag, r"^([^?]*)", 1)
    query = F.regexp_extract(no_frag, r"\?(.*)$", 1)
    scheme = F.lower(F.regexp_extract(base, r"(?i)^(https?)://", 1))
    hostpath = F.regexp_extract(base, r"(?i)^https?://([^/]*)(/.*)?$", 1)
    path = F.regexp_extract(base, r"(?i)^https?://[^/]*(/.*)?$", 1)
    # sort params by (key, value) TUPLES, as canonicalize_one's
    # sorted(parse_qsl(...)) does — array_sort over the raw "k=v" strings would order
    # "page2=x" before "page=y" ('2' < '='), giving the same URL two
    # different canonical forms depending on which canonicalizer ran.
    # A param with no '=' re-emits as "k=" (parse_qsl keep_blank_values
    # semantics, same as the exact kernel).
    # parse_qsl drops empty params entirely ('a=1&&b=2' → a=1, b=2) — filter
    # them BEFORE the tuple build, else '&&' re-emits as a spurious '='
    params = F.filter(F.split(query, "&"), lambda p: p != "")
    kv = F.transform(
        params,
        lambda p: F.struct(
            F.substring_index(p, "=", 1).alias("k"),
            F.substr(
                p, F.length(F.substring_index(p, "=", 1)) + 2
            ).alias("v"),
        ),
    )
    sorted_q = F.array_join(
        F.transform(
            F.array_sort(kv), lambda s: F.concat_ws("=", s["k"], s["v"])
        ),
        "&",
    )
    # port: parse numerically ('0443' == 443, urlsplit semantics), strip
    # the scheme default, keep others re-emitted from the numeric value;
    # an empty port (':') is no port. The whole URL is NULL, as
    # canonicalize_one's None, for a port above 65535 or with a non-digit,
    # an empty host, or a scheme other than http(s).
    # Trailing host dots go, as in canonicalize_one ('a.com.' == 'a.com').
    authority = F.lower(hostpath)
    host_only = F.regexp_replace(
        F.substring_index(authority, ":", 1), r"\.+$", ""
    )
    port_raw = F.regexp_extract(authority, r"^[^:]*:(.*)$", 1)
    port_str = F.regexp_extract(port_raw, r"^0*(\d+)$", 1)
    port_num = F.when(
        (port_str != "") & (F.length(port_str) <= 5), port_str.cast("long")
    )
    invalid = (
        (scheme == "")
        | (host_only == "")
        | ((port_raw != "") & (port_str == ""))  # a non-digit in the port
        | (F.length(port_str) > 5)
        | (port_num > 65535)
    )
    is_default = ((scheme == "http") & (port_num == 80)) | (
        (scheme == "https") & (port_num == 443)
    )
    netloc = F.when(port_num.isNull() | is_default, host_only).otherwise(
        F.concat(host_only, F.lit(":"), port_num.cast("string"))
    )
    return F.when(invalid, F.lit(None).cast("string")).otherwise(
        F.concat(
            scheme,
            F.lit("://"),
            netloc,
            F.when(path == "", F.lit("/")).otherwise(path),
            F.when(F.size(params) == 0, F.lit("")).otherwise(
                F.concat(F.lit("?"), sorted_q)
            ),
        )
    )


def surt_key(col: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key — the canonical
    sort key of web-archive URL indexes (Internet Archive CDX(J), Common
    Crawl's cc-index): scheme dropped, host lowercased with components
    REVERSED and comma-joined, then ``)`` and the path. Reversing the
    host makes a lexicographic sort cluster by registrable domain —
    ``com,example)/a`` and ``com,example,sub)/b`` sort adjacently — which
    is what turns a flat sorted file into a prefix-scannable domain
    index (range scans / partition pruning on the SURT prefix at scale).

    Input is expected CANONICAL (the output of ``canonicalize_url`` /
    ``canonicalize_url_sql``: lowercased host, no fragment, sorted query);
    this expression only reorders. Leading ``www.`` is dropped per SURT
    convention. Ports are handled scheme-aware: the scheme's DEFAULT
    port (http:80 / https:443) is stripped, any other port survives in
    SURT position — ``com,example:8080)`` — so it sorts inside the
    domain's prefix range instead of riding the reversed last label to
    the front of the key, and distinct origins never collide. Pure
    Catalyst — usable in scan-level projections and as a write-time
    sort key.
    """
    u = col
    scheme = F.lower(
        F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
    )
    auth = authority_expr(u)
    rest = F.regexp_extract(u, REST_RE, 1)
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    host = F.regexp_replace(auth, r":\d+$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    is_default = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    port_sfx = F.when((port == "") | is_default, F.lit("")).otherwise(
        F.concat(F.lit(":"), port)
    )
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    return F.when(host == "", F.lit(None).cast("string")).otherwise(
        F.concat(
            rev,
            port_sfx,
            F.lit(")"),
            F.when(rest == "", F.lit("/")).otherwise(rest),
        )
    )


def percent_normalize_expr(col: Column) -> Column:
    """RFC 3986 §6.2.2 percent-encoding normalization, pure Catalyst:
    decode ``%XX`` sequences whose octet is an UNRESERVED character
    (ALPHA / DIGIT / ``-._~`` — §2.3: these never need encoding, so
    ``%7E`` ≡ ``~``) and uppercase the hex digits of every other
    escape (§6.2.2.1: ``%2f`` ≡ ``%2F``); reserved characters stay
    ENCODED (decoding ``%2F`` to ``/`` would change the path grammar).
    Malformed escapes (``%G1``, trailing ``%``) pass through untouched
    — normalization must never corrupt an already-working URL.

    The two DUST-style alias sources this closes: the same path spelled
    with different hex case, and gratuitous escaping of unreserved
    characters.  Idempotent (property-tested); applies to the whole URL
    string, so run it BEFORE grammar-level canonicalization.  Scan-side
    tokenize-transform-join: one ``regexp_extract_all`` into
    (escape | literal-run) tokens, a per-token CASE, ``array_join`` —
    no UDF, no shuffle.
    """
    toks = F.regexp_extract_all(
        col, F.lit("(%[0-9A-Fa-f]{2}|[^%]+|%)"), F.lit(1)
    )

    def _fix(t: Column) -> Column:
        hx = F.upper(F.substring(t, 2, 2))
        ch = F.chr(F.conv(hx, 16, 10).cast("int"))
        return F.when(
            t.rlike("^%[0-9A-Fa-f]{2}$"),
            F.when(ch.rlike("^[A-Za-z0-9._~-]$"), ch).otherwise(
                F.concat(F.lit("%"), hx)
            ),
        ).otherwise(t)

    return F.when(
        col.isNull(), F.lit(None).cast("string")
    ).otherwise(F.array_join(F.transform(toks, _fix), ""))
