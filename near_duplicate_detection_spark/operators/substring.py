"""Stage 2b — exact long-repeat detection (rolling windows + suffix-array verify).

MinHash misses pairs whose only relation is one long verbatim run inside
otherwise-unrelated text (global Jaccard far below threshold). This pass:

  1. fingerprints each doc's normalized text with CONTENT-DEFINED anchored
     windows: a position i is an anchor iff the rolling hash of the g-gram
     t[i:i+g] ≡ 0 (mod d); each anchor contributes the 64-bit rolling hash of
     the W-char window t[i:i+W]. Because the anchor decision depends only on
     run content, a verbatim run shared at DIFFERENT offsets in two docs
     anchors at the SAME in-run positions — fixed-stride windows would
     mis-align (the winnowing / content-defined-chunking idea). A shared run
     of length L ≥ min_len contains an eligible anchor w.p.
     1-(1-1/d)^(L-W-g) for content without adversarial hash structure;
  2. groups window hashes (one shuffle), expands candidate pairs map-side
     under the same bucket ceiling as LSH (boilerplate windows are capped
     and flagged, not silently dropped);
  3. verifies each candidate pair with an exact suffix-array
     longest-common-run (functions/suffix.py) over the pair's texts inside
     an Arrow-batched UDF — only candidate pairs pay this cost, and the
     pages scan feeding it is semi-join-pruned to exactly the candidate
     urls first (never shuffles corpus texts).

The whole fingerprint pass is batch-vectorized: one concatenated byte buffer
per Arrow batch, Horner rolling hashes as shifted numpy multiply-adds (int64
views — uint64 broadcast multiply is pathologically slow), window hashes
gathered only AT anchors, per-doc dedup via one lexsort. No per-anchor or
per-window Python. Window hash equality can collide (64-bit) — harmless:
collisions surface as candidate pairs the exact LCS verify rejects.

Reference lineage: this is the graft of the reference's external shotdetect
segmentation + exact per-record verification shape (ndd/shotdetect.py:58-75
produces exact boundaries; ndd/server_ndd.py:104-112 verifies exactly).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from near_duplicate_detection_spark.config import NDDConfig
from near_duplicate_detection_spark.functions.suffix import (
    common_run_at_least,
    longest_common_run,
)
from near_duplicate_detection_spark.functions.text import normalize_text
from near_duplicate_detection_spark.operators.lsh import _PAIRS_EXPR

WINDOW_SCHEMA = "url string, win_hash bigint"
DOC_WINDOWS_SCHEMA = "url string, win_hashes array<bigint>"

_ROLL_B = 1099511628211  # FNV prime as polynomial base
_B_I64 = np.int64(np.uint64(_ROLL_B).astype(np.int64))


# byte span of one kernel chunk: g+w strided/gathered passes run over the
# concatenated buffer, so keeping the working set L2-resident is worth 2.3×
# (r6: 0.69 s → 0.29 s per 4k docs at 64 KB, bit-identical) vs one dense
# pass over a multi-MB Arrow batch
_CHUNK_BYTES = 64_000


def window_hashes_batch(
    texts: list[str], w: int, g: int, d: int
) -> tuple[np.ndarray, np.ndarray]:
    """Distinct anchored-window hashes for a batch of normalized texts.

    → (doc_idx int64[], win_hash int64[]): one row per distinct (doc, window
    hash). Processes the batch in ``_CHUNK_BYTES``-sized doc runs (docs
    never split, results concatenate exactly — dedup is per doc); each run
    uses the dense kernel below.
    """
    n = len(texts)
    if n == 0:
        return _window_hashes_dense(texts, w, g, d)
    lens = [len(t.encode("utf-8")) for t in texts]
    out_d: list[np.ndarray] = []
    out_h: list[np.ndarray] = []
    lo = 0
    while lo < n:
        hi, acc = lo, 0
        while hi < n and (acc == 0 or acc + lens[hi] <= _CHUNK_BYTES):
            acc += lens[hi]
            hi += 1
        di, hh = _window_hashes_dense(texts[lo:hi], w, g, d)
        out_d.append(di + lo)
        out_h.append(hh)
        lo = hi
    return np.concatenate(out_d), np.concatenate(out_h)


def _window_hashes_dense(
    texts: list[str], w: int, g: int, d: int
) -> tuple[np.ndarray, np.ndarray]:
    """One dense pass over a concatenated text buffer: Horner anchor hashes
    are g shifted multiply-adds; window hashes are computed only AT anchor
    positions (w gathers over the anchor vector, not w passes over the
    buffer); per-doc dedup is one lexsort."""
    n_docs = len(texts)
    bufs = [t.encode("utf-8") for t in texts]
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum([len(b) for b in bufs], out=offsets[1:])
    raw = np.frombuffer(b"".join(bufs), dtype=np.uint8).astype(np.int64)
    N = len(raw)
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    if N < g:
        return empty
    # anchor decision: rolling hash of every g-gram (Horner, vectorized)
    A = np.zeros(N - g + 1, dtype=np.int64)
    for j in range(g):
        A = A * _B_I64 + raw[j : N - g + 1 + j]
    is_anchor = A.view(np.uint64) % np.uint64(d) == 0
    # eligibility: window [i, i+w) must lie fully inside one doc
    valid = np.zeros(N - g + 1, dtype=bool)
    for di in range(n_docs):
        lo, hi = int(offsets[di]), int(offsets[di + 1]) - w
        if hi >= lo:
            valid[lo : hi + 1] = True
    anchors = np.nonzero(is_anchor & valid)[0]
    if not len(anchors):
        return empty
    # window hash AT each anchor: Horner over the w bytes (w gathers)
    acc = np.zeros(len(anchors), dtype=np.int64)
    for j in range(w):
        acc = acc * _B_I64 + raw[anchors + j]
    didx = np.searchsorted(offsets[1:], anchors, side="right")
    # distinct (doc, hash): sort once, keep first occurrences
    order = np.lexsort((acc, didx))
    d_s, h_s = didx[order], acc[order]
    keep = np.ones(len(d_s), dtype=bool)
    keep[1:] = (d_s[1:] != d_s[:-1]) | (h_s[1:] != h_s[:-1])
    return d_s[keep], h_s[keep]


def window_fingerprint_fn(cfg: NDDConfig, text_col: str = "text"):
    """mapInPandas fn: (url, text) → (url, win_hashes array) — ONE row per
    doc. Emitting one row per WINDOW (13M skinny rows / 100k docs) made the
    Arrow python→JVM transfer the dominant stage cost; the per-doc array is
    ~8× fewer bytes and 100× fewer rows, and the explode to (url, win_hash)
    happens JVM-side in codegen."""
    w, g, d = cfg.substring_window, cfg.substring_anchor_gram, cfg.substring_anchor_mod

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            texts = [normalize_text(t or "") for t in pdf[text_col]]
            didx, win_hash = window_hashes_batch(texts, w, g, d)
            # didx is sorted (lexsort key) → split into per-doc arrays
            bounds = np.searchsorted(didx, np.arange(len(pdf)))
            arrs = np.split(win_hash, bounds[1:])
            yield pd.DataFrame({"url": pdf["url"], "win_hashes": arrs})

    return fn


def substring_candidates(
    pages: DataFrame,
    cfg: NDDConfig,
    text_col: str = "text",
    return_windows: bool = False,
) -> tuple[DataFrame, DataFrame] | tuple[DataFrame, DataFrame, DataFrame]:
    """→ (pairs(url_a, url_b), flagged(win_hash, bucket_size))
    [, windows(url, win_hash) when return_windows — the per-doc fingerprint
    index the pipeline persists for the delta path].

    Two-phase plan: phase 1 shuffles only (win_hash, count) — 16 bytes/row
    with map-side combine — to find the rare multi-doc window hashes; phase 2
    recomputes the (cheap) fingerprints and joins against that small hash set
    (AQE runtime-broadcasts it), so the url-carrying shuffle only sees rows
    that can actually pair. At corpus scale the overwhelming majority of
    windows are unique: shipping their urls to a groupBy would dominate the
    stage, exactly like the reference eagerly resizing all N images before
    top-k filtering (server_ndd.py:118-123) — the anti-pattern SURVEY bans.
    """
    # per-doc window arrays, materialized LAZILY once (≈0.9 KB/doc): both
    # phases below consume them, and re-running the text scan + normalize +
    # kernel per consumer was the dominant stage cost. At cluster scale this
    # checkpoint is executor-local memory/disk blocks — proportional to the
    # corpus but ~400× smaller than the text column; recomputing instead
    # remains a config choice if temp space is tighter than CPU.
    doc_windows = (
        pages.select("url", text_col)
        .mapInPandas(window_fingerprint_fn(cfg, text_col), DOC_WINDOWS_SCHEMA)
        .localCheckpoint(eager=False)
    )
    windows = doc_windows.select(
        "url", F.explode("win_hashes").alias("win_hash")
    )
    # multi-doc window hashes are rare → materialize them once (small); the
    # flagged metric and the pruning join both derive from this checkpoint
    # instead of re-running the fingerprint pass
    counts = (
        windows.groupBy("win_hash").count().where(F.col("count") >= 2)
    ).localCheckpoint()
    # same dual skew limit as the LSH buckets (size cap + pair-count ceiling)
    from near_duplicate_detection_spark.operators.lsh import over_ceiling

    flagged = counts.where(over_ceiling(cfg, "count")).select(
        "win_hash", F.col("count").alias("bucket_size")
    )
    ok_hashes = counts.where(~over_ceiling(cfg, "count")).select("win_hash")
    pairs = (
        windows.join(F.broadcast(ok_hashes), "win_hash")
        .groupBy("win_hash")
        .agg(F.collect_list("url").alias("urls"))
        .select(F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
        .select("p.url_a", "p.url_b")
        .dropDuplicates(["url_a", "url_b"])
    )
    if return_windows:
        return pairs, flagged, windows
    return pairs, flagged


def verify_substring_pairs(
    pairs: DataFrame, pages: DataFrame, cfg: NDDConfig, text_col: str = "text"
) -> DataFrame:
    """Exact suffix-array verification → (url_a, url_b, common_run bigint).

    The pages scan is pruned to EXACTLY the candidate urls with a left-semi
    join before any text moves (pattern of verify.py candidate_shingle_sets):
    candidates are rare, so AQE turns both the prune and the two pair⋈text
    joins into broadcasts — the corpus text column is never shuffled. The
    round-1 plan joined pairs against the full pages table and shipped every
    text through two shuffles; it was the most expensive bench leg.
    """
    cand_urls = (
        pairs.select(F.col("url_a").alias("url"))
        .union(pairs.select(F.col("url_b").alias("url")))
        .distinct()
    )
    # materialize the pruned texts ONCE: both pair sides (a and b) consume
    # them, which would otherwise run the corpus scan + semi-join twice
    texts = (
        pages.select("url", text_col)
        .join(cand_urls, "url", "left_semi")
        .localCheckpoint()
    )
    a = texts.select(F.col("url").alias("url_a"), F.col(text_col).alias("text_a"))
    b = texts.select(F.col("url").alias("url_b"), F.col(text_col).alias("text_b"))
    # Spread candidate pairs across all cores BEFORE the python LCS UDF:
    # AQE coalesces the (tiny-by-bytes) pair shuffle to one partition, which
    # would serialize the expensive per-pair suffix-array work on one core.
    # ONE partition per core: r6 A/B measured 4 waves at 2.48 s vs 1 wave at
    # 1.48 s for 6.7k pairs — the python-worker round trip per extra task
    # outweighs the straggler tail the finer grain was buying.
    n_parts = pairs.sparkSession.sparkContext.defaultParallelism
    joined = pairs.join(a, "url_a").join(b, "url_b").repartition(n_parts)
    min_len = cfg.substring_min_len

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            runs = np.zeros(len(pdf), dtype=np.int64)
            for i, (ta, tb) in enumerate(zip(pdf["text_a"], pdf["text_b"])):
                na, nb = normalize_text(ta or ""), normalize_text(tb or "")
                # vectorized rolling-hash prefilter rejects most pairs;
                # the exact suffix-array LCS runs only on survivors
                if common_run_at_least(na, nb, min_len):
                    runs[i] = longest_common_run(na, nb)
            out = pd.DataFrame(
                {
                    "url_a": pdf["url_a"],
                    "url_b": pdf["url_b"],
                    "common_run": runs,
                }
            )
            yield out[out["common_run"] >= min_len]

    return joined.mapInPandas(fn, schema="url_a string, url_b string, common_run bigint")
