"""RFC-3986 URL canonicalization — the spec function and its Spark twins.

The reference engine never canonicalizes anything (its row identity is a
sqlite ROWID; see container_crawler/__init__.py Crawler.submit_items); the
north star mandates RFC-3986 canonicalization + 64-bit xxhash keys as the
web-scale generalization of that identity.

Canonical form (the engine-wide spec; refspec.py and the Spark pipeline MUST
agree byte-for-byte — pinned by tests):

0. fetchability gate: scheme must be http/https, host non-empty, port
   parseable — anything else raises ValueError and is dropped at ingest
   (relative hrefs, mailto:/javascript:, bad ports)
1. scheme lowercased
2. host lowercased; non-ASCII (IDN) hosts encoded to punycode via IDNA
   2003 — the unicode and xn-- spellings of a host are ONE identity —
   with invalid IDN labels dropped (rule 0); IPv6 hosts re-bracketed;
   userinfo preserved verbatim
3. default ports dropped (http:80, https:443); other ports kept
4. fragment removed
5. path: percent-normalization (rule 7) then RFC 3986 ``remove_dot_segments``;
   empty path becomes ``/``
6. query: split on ``&``, empty params dropped, each param
   percent-normalized, params sorted byte-wise (stable), rejoined with ``&``;
   an empty query drops the ``?``
7. percent-escapes: decode unreserved characters (ALPHA / DIGIT / ``-._~``),
   uppercase the hex of every remaining escape; a bare ``%`` not followed by
   two hex digits is left untouched

The vectorized Spark form is an Arrow-batched pandas UDF wrapping the same
function (input_hint: pandas/Arrow UDFs only, no per-row Python ``F.udf``).
"""

import string
from urllib.parse import urlsplit

_UNRESERVED = set(string.ascii_letters + string.digits + "-._~")
_HEX = set(string.hexdigits)
_DEFAULT_PORT = {"http": 80, "https": 443}


def _norm_pct(s: str) -> str:
    """Decode unreserved %-escapes, uppercase the hex of the rest."""
    if "%" not in s:
        return s
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "%" and i + 2 < n and s[i + 1] in _HEX and s[i + 2] in _HEX:
            byte = int(s[i + 1 : i + 3], 16)
            ch = chr(byte)
            if ch in _UNRESERVED:
                out.append(ch)
            else:
                out.append("%" + s[i + 1 : i + 3].upper())
            i += 3
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments."""
    output: list[str] = []
    buf = path
    while buf:
        if buf.startswith("../"):
            buf = buf[3:]
        elif buf.startswith("./"):
            buf = buf[2:]
        elif buf.startswith("/./"):
            buf = "/" + buf[3:]
        elif buf == "/.":
            buf = "/"
        elif buf.startswith("/../"):
            buf = "/" + buf[4:]
            if output:
                output.pop()
        elif buf == "/..":
            buf = "/"
            if output:
                output.pop()
        elif buf in (".", ".."):
            buf = ""
        else:
            i = buf.find("/", 1) if buf.startswith("/") else buf.find("/")
            if i == -1:
                output.append(buf)
                buf = ""
            else:
                output.append(buf[:i])
                buf = buf[i:]
    return "".join(output)


def canonicalize(url: str) -> str:
    """Canonicalize one URL per the module spec. Pure, deterministic.

    Raises ValueError for non-fetchable hrefs — no scheme (relative or
    scheme-relative spellings: the engine does no base-URL resolution),
    non-http(s) schemes (mailto:, ftp:, javascript:, ...), an empty host,
    or an unparseable port. Without this gate such hrefs canonicalized to
    degenerate identities ('://page2.html', shared across every site that
    links a same-named relative page) that passed ingest's NULL-drop
    filter and collided in url_seen / the politeness window. Callers
    (canon_host_frame, refspec.run ingest) already map ValueError to the
    drop path, mirroring each other.
    """
    parts = urlsplit(url.strip())
    scheme = parts.scheme.lower()
    if scheme not in _DEFAULT_PORT:  # http / https only
        raise ValueError(f"non-fetchable scheme: {scheme or '<none>'!r}")

    host = parts.hostname or ""
    if not host:
        raise ValueError("empty host")
    if not host.isascii():
        # IDN normalization: a unicode host and its punycode spelling are
        # the SAME logical host — without this, http://пример.рф/ and
        # http://xn--e1afmkfd.xn--p1ai/ canonicalized to different
        # url_hash identities, silently splitting url_seen membership,
        # politeness budgets, and host rank for one real host. Python's
        # idna codec (IDNA 2003 + nameprep) encodes each label; invalid
        # IDN labels raise -> the fetchability drop path, like any other
        # malformed href. Applied ONLY to non-ASCII hosts: an ASCII host
        # is already in canonical form, and the codec's stricter label
        # rules (length caps, hyphen placement) must not reject ASCII
        # hosts the engine has always accepted.
        try:
            host = host.encode("idna").decode("ascii")
        except UnicodeError as e:
            raise ValueError(f"invalid IDN host: {host!r}") from e
    if ":" in host:  # IPv6 literal — urlsplit strips the brackets
        host = "[" + host + "]"
    userinfo = ""
    if parts.username is not None:
        userinfo = parts.username
        if parts.password is not None:
            userinfo += ":" + parts.password
        userinfo += "@"
    # invalid ports ('http://h:99999/x', 'http://h:8a/x') propagate
    # urlsplit's ValueError -> dropped, instead of silently aliasing the
    # href onto the default-port identity of the clean URL
    port = parts.port
    netloc = userinfo + host
    if port is not None and port != _DEFAULT_PORT.get(scheme):
        netloc += f":{port}"

    path = _remove_dot_segments(_norm_pct(parts.path)) or "/"

    params = [_norm_pct(p) for p in parts.query.split("&") if p != ""]
    params.sort()
    query = "&".join(params)

    out = f"{scheme}://{netloc}{path}"
    if query:
        out += "?" + query
    return out


def host_of(url_canon: str) -> str:
    """Host (incl. port if non-default) of an already-canonical URL."""
    return urlsplit(url_canon).netloc.rsplit("@", 1)[-1]


def path_of(url_canon: str) -> str:
    """Path of an already-canonical URL (used for robots prefix matching)."""
    return urlsplit(url_canon).path or "/"


def path_query_of(url_canon: str) -> str:
    """Path plus optional ``?query`` of an already-canonical URL — the RFC
    9309 rule-match target (§2.2.2 matches rules against the URI with
    scheme/authority/fragment removed, i.e. path AND query; the RFC
    authors' reference implementation extracts exactly this). Fragments
    were already removed at canonicalization."""
    parts = urlsplit(url_canon)
    p = parts.path or "/"
    return p + ("?" + parts.query if parts.query else "")


# ---------------------------------------------------------------------------
# Vectorized batch form: a C-speed pandas fast path for the overwhelmingly
# common simple-URL shapes, pure-Python spec fallback for the rest.
# ---------------------------------------------------------------------------

import re

# Fast-path shape: http(s) scheme (any case), host of [A-Za-z0-9.-] (no
# userinfo/port), absolute path with no %-escape, optional query with no
# %-escape, optional fragment. Everything such a URL needs to canonicalize
# is expressible as vectorized string ops: lowercase scheme+host, drop the
# fragment, sort <=2 non-empty query params. %-escapes, dot-segments
# (excluded via a "/." substring test), ports, userinfo, 3+ params, empty
# params and non-http schemes all take the spec function.
_FAST_RE = re.compile(
    r"^(https?)://([a-zA-Z0-9.\-]+)(/[^?#%\s]*)(?:\?([^#%\s]+))?(?:#\S*)?$",
    re.IGNORECASE,
)


def _fast_canon(u: str):
    """(canonical, host) for fast-path shapes, else None (take the spec fn).
    For a matching URL the canonical form is provably: lowercase scheme and
    host, path verbatim (no %-escapes, no dot-segments), fragment dropped,
    query verbatim (0/1 param) or the two non-empty params sorted
    (str "<=" is codepoint order == UTF-8 byte order)."""
    m = _FAST_RE.match(u)
    if m is None or "/." in u:
        # "/." would need remove_dot_segments (conservative: also sends
        # dotfile paths and "//." hosts to the slow path)
        return None
    scheme, host, path, q = m.group(1, 2, 3, 4)
    host = host.lower()
    base = scheme.lower() + "://" + host + path
    if q is None:
        return base, host
    n_amp = q.count("&")
    if n_amp == 0:
        return base + "?" + q, host
    if n_amp == 1:
        p1, p2 = q.split("&")
        if p1 and p2:
            if p1 > p2:
                p1, p2 = p2, p1
            return base + "?" + p1 + "&" + p2, host
    return None


def canon_host_frame(urls):
    """(canonicalize(url), host_of(canon)) over a pandas Series ->
    DataFrame{url_canon, host}. Byte-identical to the pure spec function
    (pinned by tests/test_canon_properties.py); one compiled-regex match per
    URL decides fast repair vs spec fallback."""
    import pandas as pd

    canons: list = []
    hosts: list = []
    for u in urls:
        if u is None or not isinstance(u, str):
            canons.append(None)
            hosts.append(None)
            continue
        r = _fast_canon(u)
        if r is None:
            # hostile/malformed hrefs (e.g. "http://[junk") raise ValueError
            # in urlsplit — emit (None, None) instead of killing the task;
            # the ingest step drops null canonicals (refspec mirrors this)
            try:
                c = canonicalize(u)
                h = host_of(c)
            except ValueError:
                c = h = None
        else:
            c, h = r
        canons.append(c)
        hosts.append(h)
    return pd.DataFrame({"url_canon": canons, "host": hosts})


# ---------------------------------------------------------------------------
# Spark side — Arrow-batched pandas UDFs (built lazily so this module stays
# importable without a JVM, e.g. inside refspec/pytest-only runs).
# ---------------------------------------------------------------------------

def canon_udf():
    """``pandas_udf`` canonicalizing a STRING column (Arrow-batched)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def _canon(urls: pd.Series) -> pd.Series:
        return canon_host_frame(urls)["url_canon"]

    return F.pandas_udf(_canon, T.StringType())


def canon_host_udf():
    """``pandas_udf``: raw url STRING -> STRUCT<url_canon, host> in one
    Arrow round-trip (half the Python-boundary cost of two UDFs).

    Marked nondeterministic as an optimizer barrier, not because results
    vary: callers project the struct and then drop rows whose
    ``url_canon`` is NULL, and Catalyst pushes that filter below the
    projection of a deterministic UDF — re-evaluating canonicalization
    for the filter in a second Python stage, ahead of any round-robin
    repartition the caller placed to spread the work. The barrier keeps
    ONE evaluation, above the repartition."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("url_canon", T.StringType()),
            T.StructField("host", T.StringType()),
        ]
    )

    def _canon_host(urls: pd.Series) -> pd.DataFrame:
        return canon_host_frame(urls)

    return F.pandas_udf(_canon_host, schema).asNondeterministic()

