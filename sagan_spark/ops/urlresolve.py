"""RFC 3986 relative-reference resolution as pure Spark Column
expressions — ``resolve_url(base, href)`` turns the raw ``href``
attribute values mined from crawl HTML into absolute URLs against the
page URL, so RELATIVE links (most links on the web) enter the link
graph instead of being silently dropped.

Semantics are pinned to CPython ``urllib.parse.urljoin`` (itself the
RFC 3986 §5.2 algorithm plus two documented CPython quirks), with
fragments stripped from the result — i.e. for every (base, href)
pair::

    resolve_url(base, href) == urldefrag(urljoin(base, href))[0]

(property-tested in tests/test_urlresolve.py over a fuzzed corpus).
The two CPython quirks faithfully reproduced, because downstream
users will diff this engine against urljoin:

1. an ABSOLUTE href (it has a scheme) and a SCHEME-RELATIVE href
   (``//host/…``) pass through WITHOUT dot-segment normalization —
   CPython only runs remove_dot_segments in the merge branches;
2. in the relative-merge branch (only), interior empty path segments
   of the merged path are removed before dot-segment processing
   (``urllib.parse.urljoin``'s ``filter(None, segments[1:-1])``).

Everything is built-in expression work — regex splits, one
``aggregate`` fold over the path segments (the RFC 5.2.4
remove_dot_segments stack), an index-aware ``filter`` — no Python, no
UDF, scan-level at 10^12 rows.  The reference engine has no URL
resolver (its inputs are syslog lines, not hyperlinked documents);
this exists because the corpus side of the pipeline mines link graphs
from Common-Crawl-style pages (BASELINE.json input_hint) where
``href="../x"`` is the COMMON case.

Preconditions: ``base`` must be an absolute hierarchical URL
(``scheme://authority…``, the pages-table ``url`` contract).  A NULL
base yields NULL.  Against an authority-less base an absolute href
still passes through defragged, but any other href resolves to a
``://``-prefixed, non-http(s) string (``mailto:me`` + ``x`` ->
``mailto:///x``), not to the href unchanged; callers keep only
``^https?://`` results, which drops it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: URI scheme prefix (RFC 3986 §3.1) — same char class CPython's
#: urlparse accepts
SCHEME_PREFIX_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*:"
#: fragment suffix; (?s) so a newline inside a (malformed) fragment
#: still strips
FRAGMENT_RE = r"(?s)#.*$"
#: scheme://authority head of an absolute hierarchical URL
_ROOT_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*"


def _let(value: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``value`` ONCE and
    reference it symbolically in ``body`` — higher-order-function
    lambda variables are named references in the plan, so the bound
    subtree appears exactly once no matter how many times ``body``
    uses it.  Without this, naive composition DUPLICATES subtrees at
    every use site and the resolver's tree multiplies into whatever
    consumes it (the r5 pagerank regression: the ~9.5k-branch PSL
    ladder inlining a many-thousand-node resolve expression blew
    Catalyst optimization time from seconds to minutes).  Bind a
    struct to introduce several names at once.  Runtime cost: one
    1-element array wrap per row — noise next to a single regex."""
    return F.element_at(F.transform(F.array(value), body), 1)


#: public alias — other ops use the same binding trick wherever a
#: big expression feeds a many-reference consumer (the PSL ladder)
let_col = _let


def _strip_fragment(col: Column) -> Column:
    return F.regexp_replace(col, FRAGMENT_RE, "")


def _path_of(col: Column) -> Column:
    """Path part of a fragment-free path[?query] string."""
    return F.regexp_extract(col, r"^([^?]*)", 1)


def _query_suffix_of(col: Column) -> Column:
    """'?query' suffix ('' when there is none) of a fragment-free
    path[?query] string."""
    path = _path_of(col)
    return F.substring(col, F.length(path) + F.lit(1), F.length(col))


def remove_dot_segments(path: Column, *, interior_filter: bool) -> Column:
    """RFC 3986 §5.2.4 remove_dot_segments over a non-empty path
    string, CPython-urljoin flavored: split on '/', optionally drop
    interior empty segments (the merge-branch quirk), fold the
    '.'/'..' stack in ONE ``aggregate`` pass, re-append the trailing
    '' when the last raw segment was '.' or '..' (so '/a/b/..' keeps
    its directory slash), and re-root the join ('' -> '/', missing
    leading '/' restored — CPython's ``'/'.join(...) or '/'`` plus
    urlunsplit's netloc path fixup).  Every multiply-referenced
    intermediate is let-bound (:func:`_let`) so the plan tree stays
    linear."""

    def _joined_tail(joined: Column) -> Column:
        return (
            F.when(joined == "", F.lit("/"))
            .when(~joined.startswith("/"), F.concat(F.lit("/"), joined))
            .otherwise(joined)
        )

    def _fold_tail(segs: Column) -> Column:
        folded0 = F.aggregate(
            segs,
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                s == F.lit(".."),
                F.slice(
                    acc, F.lit(1), F.greatest(F.size(acc) - 1, F.lit(0))
                ),
            )
            .when(s == F.lit("."), acc)
            .otherwise(F.concat(acc, F.array(s))),
        )
        folded = F.when(
            F.element_at(segs, -1).isin(".", ".."),
            F.concat(folded0, F.array(F.lit(""))),
        ).otherwise(folded0)
        return _let(F.array_join(folded, "/"), _joined_tail)

    def _with_raw(raw: Column) -> Column:
        if not interior_filter:
            return _fold_tail(raw)
        n = F.size(raw)
        kept = F.filter(
            raw, lambda s, i: (s != "") | (i == 0) | (i == n - F.lit(1))
        )
        return _let(kept, _fold_tail)

    return _let(F.split(path, "/"), _with_raw)


def href_value(raw: Column) -> Column:
    """Raw href ATTRIBUTE value -> resolvable reference: strip
    leading/trailing ASCII whitespace (the HTML attribute-value
    parsing rule browsers apply) and decode the character entities
    real markup escapes URLs with (``&amp;`` in query strings above
    all) — the htmltext ENTITIES table, one source of truth."""
    from sagan_spark.ops.htmltext import ENTITIES

    out = F.regexp_replace(raw, r"^[ \t\r\n\f]+|[ \t\r\n\f]+$", "")
    for ent, ch in ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def resolve_url(base: Column, href: Column) -> Column:
    """Absolute URL for ``href`` against page URL ``base`` —
    fragment-stripped urljoin (module docstring).  NULL-safe: NULL
    href resolves to NULL.  Two output normalizations beyond the raw
    join, both matching what CPython itself does whenever it rebuilds
    the URL: ASCII tab/newline bytes are removed anywhere in either
    input (urlsplit's WHATWG unsafe-byte removal), and the scheme is
    always lower-cased."""
    base = F.regexp_replace(base, r"[\t\r\n]", "")
    href = F.regexp_replace(href, r"[\t\r\n]", "")
    # three nested let levels keep the tree LINEAR — every derived
    # component is computed once and referenced by name, so consumers
    # composing this column (the PSL domain ladder above all) inline a
    # symbol, not a subtree
    return _let(
        F.struct(
            _strip_fragment(base).alias("b0"),
            _strip_fragment(href).alias("h0"),
        ),
        lambda v0: _let(
            _derived1(v0["b0"], v0["h0"]),
            lambda v1: _let(
                _derived2(v1),
                lambda v2: _resolve_branches(v0["h0"], v1, v2),
            ),
        ),
    )


def _derived1(b0: Column, h0: Column) -> Column:
    """Level-1 derived components (all from the fragment-free
    symbols): lower-cased base scheme, reconstruction root, base
    path[?query] rest, and the scheme-stripped href ``h1``."""
    bscheme = F.lower(
        F.regexp_extract(b0, r"^([A-Za-z][A-Za-z0-9+.\-]*):", 1)
    )
    bnetloc = F.regexp_extract(
        b0, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1
    )
    brest = F.substring(
        b0,
        F.length(F.regexp_extract(b0, _ROOT_RE, 0)) + F.lit(1),
        F.length(b0),
    )
    hscheme = F.lower(
        F.regexp_extract(h0, r"^([A-Za-z][A-Za-z0-9+.\-]*):", 1)
    )
    has_scheme = h0.rlike(SCHEME_PREFIX_RE)
    # same-scheme href: CPython strips the scheme and continues as a
    # scheme-less reference (so 'https:/p' from an https page is a
    # root-relative path, and 'https://x/a/../b' keeps its dot
    # segments via the netloc branch)
    h1 = F.when(
        has_scheme & (hscheme == bscheme),
        F.regexp_replace(h0, SCHEME_PREFIX_RE, ""),
    ).otherwise(h0)
    return F.struct(
        bscheme.alias("bscheme"),
        # scheme lower-cased in the reconstruction root, netloc kept
        # verbatim — urlunparse semantics
        F.concat(bscheme, F.lit("://"), bnetloc).alias("broot"),
        brest.alias("brest"),
        (has_scheme & (hscheme != bscheme)).alias("foreign_scheme"),
        h1.alias("h1"),
    )


def _derived2(v1: Column) -> Column:
    """Level-2 derived components: base path/query split and the
    href's empty-authority-stripped path[?query] split.  A '//' head
    whose netloc is EMPTY ('///p', '//', '//?q') is consumed by
    urlparse as empty-authority: strip it and continue with whatever
    remains (the non-empty-netloc case is resolve branch 3, checked
    first)."""
    h1 = v1["h1"]
    h2 = F.when(
        h1.rlike(r"^//"), F.regexp_replace(h1, r"^//", "")
    ).otherwise(h1)
    return F.struct(
        _path_of(v1["brest"]).alias("bpath"),
        _query_suffix_of(v1["brest"]).alias("bqsuf"),
        _path_of(h2).alias("hpath"),
        _query_suffix_of(h2).alias("hqsuf"),
    )


def _resolve_branches(h0: Column, v1: Column, v2: Column) -> Column:
    broot, bpath = v1["broot"], v2["bpath"]
    hpath, hqsuf = v2["hpath"], v2["hqsuf"]
    hquery = F.substring(hqsuf, 2, F.length(hqsuf))  # content after '?'
    # relative-merge branch: base directory (path up to and including
    # the last '/'; '' stays '') + href path, interior-''-filtered
    base_dir = F.when(bpath == "", F.lit("")).otherwise(
        F.regexp_replace(bpath, r"[^/]*$", "")
    )
    return (
        # 1. different-scheme absolute href: verbatim (minus fragment)
        F.when(v1["foreign_scheme"], h0)
        # 2. empty reference: the base itself (minus fragment,
        #    scheme lower-cased)
        .when(h0 == "", F.concat(broot, v1["brest"]))
        # 3. authority reference '//host…' with a NON-EMPTY netloc:
        #    base scheme + href, no path normalization (CPython
        #    netloc branch)
        .when(
            v1["h1"].rlike(r"^//[^/?#]"),
            F.concat(v1["bscheme"], F.lit(":"), v1["h1"]),
        )
        # 4. empty path: base path, href query if present else base's
        .when(
            hpath == "",
            F.concat(
                broot,
                bpath,
                F.when(hquery != "", hqsuf).otherwise(v2["bqsuf"]),
            ),
        )
        # 5. root-relative path: normalize WITHOUT the interior filter
        .when(
            hpath.startswith("/"),
            F.concat(
                broot,
                remove_dot_segments(hpath, interior_filter=False),
                hqsuf,
            ),
        )
        # 6. relative path: merge with base dir, interior-filter, normalize
        .otherwise(
            F.concat(
                broot,
                remove_dot_segments(
                    F.concat(base_dir, hpath), interior_filter=True
                ),
                hqsuf,
            )
        )
    )
