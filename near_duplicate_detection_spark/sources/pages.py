"""Deterministic synthetic Common-Crawl-style `pages` table + planted truth.

Shape per BASELINE.json input_hint:
    pages(url string, warc_ts timestamp, html binary, text string, lang string)

The generator is a pure function of (seed, doc id): every doc can be produced
independently of partition layout, so generation runs distributed via
``spark.range(n).mapInPandas`` and is reproducible at any scale. No external
data, no wall clock.

Planted structure (FIXTURES.md §1), all decided arithmetically from the id:

  id % 20 == 0          base of an exact-dup pair
  id % 20 == 1          EXACT duplicate of id-1 (5% of rows)
  id % 20 == 2          base of a near-dup group
  id % 20 in {3, 4}     NEAR duplicates of the %20==2 base (10%): seeded token
                        substitutions, ~1 per 120 tokens → shingle-Jaccard ≥ .8
  id % 50 == 6 and 7    SUBSTRING pair: both docs embed the same ≥200-char
                        verbatim run inside otherwise unrelated text (invisible
                        to MinHash at low Jaccard — the suffix-array target)
  id % 20 == 9          DECOY: ~50% token overlap with the %20==2 base
                        (Jaccard ≈ 0.3-0.5; must be REJECTED by verify)
  otherwise             unique text

  id % 10 in {0,1,2}    hot domain (30% of rows on one domain — skew fixture)

The truth side-table (url_a, url_b, kind, group_id) enumerates exactly the
exact/near/substring pairs above; recall is measured against it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

SEED = 42
_EPOCH_S = 1735689600  # 2025-01-01T00:00:00Z, fixed

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

_LANGS = ["en", "en", "en", "en", "en", "en", "de", "fr", "es", "zh"]
_STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "was", "for", "on", "with",
           "as", "by", "at", "from", "that", "this", "it", "are", "be", "or"],
    "de": ["der", "die", "das", "und", "zu", "den", "von", "mit", "ist", "des",
           "im", "nicht", "ein", "eine", "auf", "auch", "sich", "aus", "dem", "war"],
    "fr": ["le", "la", "les", "de", "des", "et", "est", "un", "une", "dans",
           "que", "pour", "qui", "sur", "pas", "plus", "par", "avec", "au", "ce"],
    "es": ["el", "la", "los", "las", "de", "y", "que", "en", "un", "una",
           "es", "del", "se", "por", "con", "para", "su", "al", "lo", "como"],
    "zh": ["de0", "shi0", "zai0", "le0", "he0", "you0", "wo0", "ta0", "zhe0",
           "ge0", "men0", "shang0", "lai0", "dao0", "shuo0", "jiu0", "qu0",
           "hui0", "neng0", "dui0"],
}
_SYL = ["ba", "co", "di", "fu", "ga", "he", "ji", "ko", "lu", "me",
        "na", "po", "qu", "ri", "so", "tu", "vi", "wo", "xa", "ze"]
_VOCAB = [a + b + c for a in _SYL for b in _SYL for c in _SYL][:6000]


def _base_tokens(base_id: int, seed: int = SEED) -> tuple[list[str], str]:
    """Content of a base document: (tokens, lang). Pure function of base_id."""
    rng = np.random.RandomState((seed * 1_000_003 + base_id) % (2**31 - 1))
    lang = _LANGS[(base_id // 20) % 10]
    n = int(rng.randint(50, 601))
    stops = _STOPWORDS[lang]
    content_idx = rng.randint(0, len(_VOCAB), size=n)
    stop_mask = rng.rand(n) < 0.35
    stop_idx = rng.randint(0, len(stops), size=n)
    toks = [stops[stop_idx[i]] if stop_mask[i] else _VOCAB[content_idx[i]]
            for i in range(n)]
    if base_id % 13 == 0:  # entity-decoding exercise: '&' survives extraction
        toks[int(rng.randint(0, n))] = "r&d"
    return toks, lang


def _shared_run(pair_base: int, seed: int = SEED) -> list[str]:
    """The verbatim run shared by a substring pair (≥200 chars, ~48 tokens)."""
    rng = np.random.RandomState((seed * 2_000_003 + pair_base) % (2**31 - 1))
    idx = rng.randint(0, len(_VOCAB), size=48)
    return [_VOCAB[i] for i in idx]


def doc_tokens(doc_id: int, seed: int = SEED) -> tuple[list[str], str]:
    """Final token stream + lang for any doc id (applies planted-role edits)."""
    m20 = doc_id % 20
    if m20 == 1:  # exact duplicate
        return _base_tokens(doc_id - 1, seed)
    if m20 in (3, 4):  # near duplicate: seeded substitutions on the %20==2 base
        base_id = doc_id - (m20 - 2)
        toks, lang = _base_tokens(base_id, seed)
        toks = list(toks)
        rng = np.random.RandomState((seed * 3_000_017 + doc_id) % (2**31 - 1))
        n_edits = max(1, min(5, len(toks) // 120))
        pos = rng.choice(len(toks), size=n_edits, replace=False)
        repl = rng.randint(0, len(_VOCAB), size=n_edits)
        for p, r in zip(pos, repl):
            toks[p] = _VOCAB[r]
        return toks, lang
    if m20 == 9:  # decoy: every 14-token period keeps 12 base tokens and
        # replaces 2 → shingle-Jaccard ≈ 0.4 (near-threshold; verify must
        # REJECT) while the longest verbatim run stays ~12 tokens ≈ 84 chars
        # (< substring_min_len; the suffix-array pass must also REJECT)
        base_id = doc_id - 7
        toks, lang = _base_tokens(base_id, seed)
        toks = list(toks)
        rng = np.random.RandomState((seed * 5_000_011 + doc_id) % (2**31 - 1))
        for p in range(12, len(toks), 14):
            for q in (p, p + 1):
                if q < len(toks):
                    toks[q] = _VOCAB[int(rng.randint(0, len(_VOCAB)))]
        return toks, lang
    toks, lang = _base_tokens(doc_id, seed)
    if doc_id % 50 in (6, 7):  # substring pair member: embed the shared run
        pair_base = doc_id - (doc_id % 50 - 6)
        run = _shared_run(pair_base, seed)
        rng = np.random.RandomState((seed * 7_000_003 + doc_id) % (2**31 - 1))
        at = int(rng.randint(0, len(toks)))
        toks = toks[:at] + run + toks[at:]
    return toks, lang


def url_of(doc_id: int) -> str:
    domain = "hot.example.com" if doc_id % 10 < 3 else f"site-{doc_id % 97}.example.org"
    return f"https://{domain}/p/{doc_id:010d}"


def _wrap_html(text: str, lang: str) -> bytes:
    """Wrap golden text in boilerplate the extractor must strip exactly.

    '&' in the text is entity-encoded here; functions/text.py unescapes it
    back, so extract_text(_wrap_html(t)) == t byte-for-byte.
    """
    body = text.replace("&", "&amp;")
    mid = len(body) // 2
    sp = body.find(" ", mid)
    if sp > 0:  # split into two <p> at a token boundary
        body = body[:sp] + "</p>\n<p>" + body[sp + 1 :]
    page = (
        f'<html lang="{lang}"><head><title></title>\n'
        f"<!-- crawler boilerplate: not visible text -->\n"
        f'<script type="text/javascript">var tracker = "do-not-extract";</script>\n'
        f"<style>body {{ margin: 0; }}</style></head>\n"
        f'<body><div class="nav"></div>\n<p>{body}</p>\n'
        f"<script>analytics();</script></body></html>"
    )
    return page.encode("utf-8")


def generate_rows(ids: np.ndarray, seed: int = SEED) -> pd.DataFrame:
    rows = []
    for doc_id in ids:
        doc_id = int(doc_id)
        toks, lang = doc_tokens(doc_id, seed)
        text = " ".join(toks)
        rows.append(
            (
                url_of(doc_id),
                pd.Timestamp(_EPOCH_S + doc_id, unit="s", tz="UTC"),
                _wrap_html(text, lang),
                text,
                lang,
            )
        )
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


def generate_pages(
    spark: SparkSession, n_docs: int, seed: int = SEED, start: int = 0
) -> DataFrame:
    """Distributed deterministic generation — partition-layout independent.
    ``start`` > 0 yields only docs [start, n_docs): every doc is a pure
    function of its id, so the slice equals the tail of the full table —
    the append BATCH for ``append_pages`` tests and benchmarks."""

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                yield generate_rows(pdf["id"].values, seed)

    parallelism = min(max((n_docs - start) // 500, 1), 64)
    return spark.range(start, n_docs, numPartitions=parallelism).mapInPandas(
        gen, schema=PAGES_SCHEMA
    )


def truth_pairs(n_docs: int) -> pd.DataFrame:
    """Planted ground-truth pairs, canonicalized url_a < url_b (driver-side)."""
    rows = []

    def add(i: int, j: int, kind: str, group: int) -> None:
        a, b = sorted((url_of(i), url_of(j)))
        rows.append((a, b, kind, group))

    for b in range(0, n_docs, 20):
        if b + 1 < n_docs:
            add(b, b + 1, "exact", b)
    for b in range(2, n_docs, 20):
        group = [i for i in (b, b + 1, b + 2) if i < n_docs]
        for x in range(len(group)):
            for y in range(x + 1, len(group)):
                add(group[x], group[y], "near", b)
    for b in range(6, n_docs, 50):
        if b + 1 < n_docs:
            add(b, b + 1, "substring", b)
    return pd.DataFrame(rows, columns=["url_a", "url_b", "kind", "group_id"])
