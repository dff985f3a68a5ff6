"""URL canonicalization for web-corpus dedup keys.

Exact-dup grouping on raw urls misses the same page fetched as
``HTTP://WWW.Site.COM/p?utm_source=feed#top`` and ``http://www.site.com/p``.
This is the url-normalization front of the reference's per-video identity
key (the reference keys its index by videoid, ndd/server_ndd.py:127-141;
a web corpus's videoid analog is the canonical url).

Every step is an anchored or global ``regexp_replace`` chosen to evaluate
identically under Java regex (Spark) and RE2 (DuckDB oracles): no
lookaround, no backreferences in patterns, explicit alternations only.
All JVM-side codegen — no UDFs — so canonicalization runs map-side at
corpus scale with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from near_duplicate_detection_spark.session import local_frame

# tracking parameters stripped from query strings (public lists: utm_*
# campaign tags, facebook/google click ids)
_TRACKING_PARAM = r"(utm_[a-zA-Z]+|fbclid|gclid)"


def canonicalize_url(url_col: str | Column) -> Column:
    """Canonical form: lowercased scheme+authority, default ports dropped,
    tracking params and fragment stripped, dangling ``?``/``&`` trimmed."""
    url = F.col(url_col) if isinstance(url_col, str) else url_col
    # 1. drop the fragment
    url = F.regexp_replace(url, r"#.*$", "")
    # 2. lowercase scheme://host[:port] only (path/query stay case-exact)
    head = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*", 0)
    url = F.concat(F.lower(head), F.substr(url, F.length(head) + 1))
    # 3. drop scheme-default ports (http:80, https:443) — other ports stay
    url = F.regexp_replace(url, r"^(http://[^/:?]+):80([/?]|$)", r"$1$2")
    url = F.regexp_replace(url, r"^(https://[^/:?]+):443([/?]|$)", r"$1$2")
    # 4. strip tracking params (with their leading separator)
    url = F.regexp_replace(url, r"[?&]" + _TRACKING_PARAM + r"=[^&#]*", "")
    # 5. if the first surviving param lost its '?', restore it
    url = F.regexp_replace(url, r"^([^?&]*)&", r"$1?")
    # 6. trim a dangling separator
    return F.regexp_replace(url, r"[?&]+$", "")


def url_host(url_col: str | Column) -> Column:
    """Hostname of an (ideally canonicalized) url — the partition/skew key
    for host-level corpus statistics."""
    url = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)


def registered_domain(host_col: Column) -> Column:
    """Last-two-labels approximation of the registrable domain — the
    deterministic, dependency-free stand-in. ``registered_domain_psl``
    below is the real public-suffix-list variant (broadcast dim join);
    this column form survives for pure-expression call sites (oracle SQL,
    codegen-only plans)."""
    return F.regexp_extract(host_col, r"([^.]+\.[^.]+)$", 1)


# A slice of the Public Suffix List (publicsuffix.org, Mozilla-maintained
# public data; ICANN section). Only MULTI-label rules are listed: a
# 1-label rule ("com") and the PSL's implicit default rule ("*") both make
# the registrable domain the last TWO labels, so single-label entries are
# behaviorally redundant here. Wildcard ("*.ck") and exception ("!www.ck")
# rules are not represented in this slice — in production the full list
# loads into the same dim-table seam, with wildcard rules expanded against
# the corpus's observed hosts.
PSL_SNAPSHOT: tuple[str, ...] = (
    # United Kingdom
    "co.uk", "org.uk", "ac.uk", "gov.uk", "net.uk", "sch.uk", "ltd.uk",
    "plc.uk", "me.uk",
    # Australia (incl. 3-label state education rules)
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "id.au", "asn.au",
    "act.edu.au", "nsw.edu.au", "vic.edu.au", "qld.edu.au",
    # Japan
    "co.jp", "ne.jp", "or.jp", "go.jp", "ac.jp", "ad.jp", "ed.jp", "lg.jp",
    # Korea, China, Taiwan, Hong Kong
    "co.kr", "or.kr", "go.kr", "ac.kr", "re.kr",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "com.tw", "org.tw", "idv.tw", "com.hk", "org.hk", "edu.hk",
    # Americas
    "com.br", "net.br", "org.br", "gov.br", "edu.br",
    "com.mx", "org.mx", "gob.mx", "edu.mx",
    "com.ar", "org.ar", "gob.ar", "edu.ar", "com.co", "edu.co",
    # South/Southeast Asia
    "co.in", "net.in", "org.in", "gov.in", "ac.in", "edu.in", "res.in",
    "com.sg", "edu.sg", "gov.sg", "co.id", "or.id", "ac.id", "go.id",
    "com.my", "edu.my", "gov.my", "co.th", "or.th", "ac.th", "go.th",
    "com.vn", "edu.vn", "gov.vn", "com.ph", "edu.ph", "gov.ph",
    # Africa / Middle East / Oceania
    "co.za", "org.za", "gov.za", "ac.za", "web.za",
    "co.il", "org.il", "gov.il", "ac.il", "muni.il",
    "com.tr", "org.tr", "gov.tr", "edu.tr",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz",
    "com.eg", "edu.eg", "gov.eg", "co.ke", "or.ke", "go.ke",
    "com.ng", "edu.ng", "gov.ng", "com.sa", "edu.sa", "gov.sa",
    # Europe ccTLD second levels
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "waw.pl",
    "com.pt", "edu.pt", "gov.pt", "com.gr", "edu.gr", "gov.gr",
    "com.es", "nom.es", "org.es", "gob.es", "edu.es",
    "com.ua", "net.ua", "org.ua", "gov.ua", "edu.ua", "kiev.ua",
    "com.ru", "net.ru", "org.ru", "msk.ru", "spb.ru",
    "co.at", "or.at", "ac.at", "gv.at", "priv.at",
    "com.ro", "org.ro", "tm.ro", "co.hu", "org.hu", "info.hu",
    # Multi-label generic infrastructure (PRIVATE section examples kept
    # Multi-label generic second-levels (PSL PRIVATE section, CentralNic —
    # kept because corpora genuinely host distinct sites under them; a
    # production swap-in loading only the ICANN section would group
    # *.co.com-style hosts one label shallower than this slice does)
    "co.com", "us.com", "uk.com", "eu.com", "de.com", "jpn.com",
)


def registered_domain_psl(
    df, host_col: str | Column, out_col: str = "registered_domain",
    suffixes: tuple[str, ...] | None = None,
):
    """Registrable domain via a real public-suffix-list lookup — the
    broadcast dim join ``registered_domain``'s docstring promises.

    PSL semantics (publicsuffix.org/list algorithm, minus wildcards —
    slice note on ``PSL_SNAPSHOT``): the matching rule is the LONGEST
    suffix of the host present in the list; the registrable domain is that
    suffix plus one more label. No rule matches → the default ``*`` rule
    (registrable = last two labels, the old approximation). A host that IS
    a public suffix ("co.uk" itself) has no registrable domain → NULL.

    Plan shape at 10^12 docs — zero shuffle, zero UDF: for each DISTINCT
    rule length k present in the suffix list (derived from the list, so a
    full ~9k-rule PSL with 4- and 5-label rules probes those lengths too,
    and the bundled 2/3-label slice skips a dead 1-label probe), the
    last-k-label candidate string is a JVM array expression over one
    ``split`` probing the PSL dim with a BROADCAST left join — all probes
    fuse into one map-side codegen stage — and a longest-match-first CASE
    picks the winner. No explode (which would multiply the row count into
    a groupBy argmax shuffle), no per-row Python.

    Returns ``df`` with ``out_col`` appended."""
    host = F.col(host_col) if isinstance(host_col, str) else host_col
    spark = df.sparkSession
    rules = tuple(suffixes or PSL_SNAPSHOT)
    # probe exactly the rule lengths the list contains — a hardcoded range
    # would silently never match longer rules (and waste probes on absent
    # lengths)
    ks = sorted({r.count(".") + 1 for r in rules})
    dim = local_frame(spark, [(s,) for s in rules], "suffix string")
    labels = F.split(host, r"\.")
    n = F.size(labels)

    def last_k(k: int) -> Column:
        return F.when(n >= k, F.array_join(F.slice(labels, n - k + 1, k), "."))

    tmp = df
    for k in ks:
        tmp = tmp.withColumn(f"__psl_s{k}", last_k(k))
        probe = dim.select(
            F.col("suffix").alias(f"__psl_s{k}"),
            F.lit(True).alias(f"__psl_m{k}"),
        )
        # NULL candidate keys (host shorter than k labels) never match —
        # equi-join null semantics do the guard for free
        tmp = tmp.join(F.broadcast(probe), f"__psl_s{k}", "left")
    reg = F.lit(None).cast("string")
    # longest-match-first: a matched k-label rule makes the registrable
    # domain the last k+1 labels (NULL when the host IS the suffix).
    # Built inside-out — ascending k leaves the LONGEST rule as the
    # outermost (first-evaluated) branch.
    for k in ks:
        reg = F.when(F.col(f"__psl_m{k}").isNotNull(), last_k(k + 1)).otherwise(
            reg
        )
    # no rule matched → implicit '*' rule: last two labels
    no_match = F.concat_ws(
        "",
        *[
            F.when(F.col(f"__psl_m{k}").isNotNull(), F.lit("x"))
            for k in ks
        ],
    ) == ""
    reg = F.when(no_match, last_k(2)).otherwise(reg)
    drop = [f"__psl_s{k}" for k in ks] + [f"__psl_m{k}" for k in ks]
    return tmp.withColumn(out_col, reg).drop(*drop)
