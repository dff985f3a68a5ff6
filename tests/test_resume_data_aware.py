"""Data-aware resume: appending, deleting, or editing pages must invalidate
exactly the affected buckets AND every downstream stage — round 1's
param-only predicate silently served stale pairs/clusters after an append
(the reference never has this bug: its .done strings chain upstream content
versions per videoid, ndd/extract_images.py:166-178).

Also covers the vanished-document contract (reference drops deleted videos
from the index on update, ndd/server_ndd.py:246-261): after docs disappear
from the input snapshot, no stage table may still reference them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from near_duplicate_detection_spark.config import NDDConfig
from near_duplicate_detection_spark.pipeline import NDDPipeline
from near_duplicate_detection_spark.sources.pages import (
    generate_pages,
    truth_pairs,
    url_of,
)

CFG = NDDConfig(num_buckets=4)


def _cluster_map(pipe) -> dict[str, str]:
    pdf = pipe.catalog.read("clusters").toPandas()
    return dict(zip(pdf.url, pdf.cluster_id))


def test_append_invalidates_downstream(spark, tmp_path):
    """Build on 300 docs, append 100 more, re-run with resume=True:
    clusters must cover the new docs and link their planted duplicates."""
    base = str(tmp_path / "cat")
    pipe = NDDPipeline(spark, CFG, base)
    pipe.run(generate_pages(spark, 300))
    assert len(_cluster_map(pipe)) == 300

    # same catalog, grown snapshot (docs 0..399 — ids 300..399 are new)
    pipe2 = NDDPipeline(spark, CFG, base)
    grown = generate_pages(spark, 400)
    pipe2.run(grown)
    # the drifted buckets were rewritten and re-signed, not appended to:
    # both views hold each doc once, and the committed lineage is the grown
    # snapshot's own stats, chained from pages into signatures
    assert pipe2.pages_table().count() == 400
    assert pipe2.signatures_table().count() == 400
    h = CFG.stage1_hash()
    pages_lineage = pipe2.catalog.latest_partition_stats("pages", h)
    assert pages_lineage == pipe2._input_stats(grown)
    assert pipe2.catalog.latest_partition_stats("signatures", h) == pages_lineage
    cl = _cluster_map(pipe2)
    assert len(cl) == 400, "clusters must cover appended docs"
    tr = truth_pairs(400)
    recall = sum(cl[a] == cl[b] for a, b in zip(tr.url_a, tr.url_b)) / len(tr)
    assert recall >= 0.99
    # specifically: a planted pair entirely inside the appended range
    new_tr = tr[tr.url_a >= url_of(300)]
    assert len(new_tr) > 0
    assert all(cl[a] == cl[b] for a, b in zip(new_tr.url_a, new_tr.url_b))


def test_append_skips_unchanged_buckets(spark, tmp_path):
    """The append only recomputes signatures for buckets whose content
    changed; untouched buckets' parquet files are not rewritten."""
    import os

    base = str(tmp_path / "cat")
    pipe = NDDPipeline(spark, CFG, base)
    pipe.stage0_ingest(generate_pages(spark, 300))
    pipe.stage1_signatures()

    def mtimes():
        out = {}
        for dirpath, _d, files in os.walk(pipe.catalog.path("signatures")):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = mtimes()
    # append exactly one doc → exactly one bucket drifts
    extra = generate_pages(spark, 301)
    pipe2 = NDDPipeline(spark, CFG, base)
    pipe2.stage0_ingest(extra)
    pipe2.stage1_signatures()
    after = mtimes()
    changed_new = {k for k in after if k not in before or after[k] != before[k]}
    changed_buckets = {p.split("bucket=")[1].split("/")[0] for p in changed_new}
    assert len(changed_buckets) == 1, changed_buckets


def test_vanished_docs_dropped_everywhere(spark, tmp_path):
    """Shrink the snapshot (delete half the docs incl. duplicate members),
    re-run with resume: signatures/pairs/clusters contain no stale urls."""
    base = str(tmp_path / "cat")
    pipe = NDDPipeline(spark, CFG, base)
    pipe.run(generate_pages(spark, 400))

    kept = generate_pages(spark, 400).where(
        F.xxhash64("url") % 2 == 0
    )
    kept_urls = {r["url"] for r in kept.select("url").collect()}
    assert 0 < len(kept_urls) < 400

    pipe2 = NDDPipeline(spark, CFG, base)
    pipe2.run(kept)
    cat = pipe2.catalog
    sig_urls = {r["url"] for r in cat.read("signatures").select("url").collect()}
    assert sig_urls == kept_urls
    pair_pdf = cat.read("pairs").toPandas()
    stale = (set(pair_pdf.url_a) | set(pair_pdf.url_b)) - kept_urls
    assert not stale, f"stale urls in pairs: {sorted(stale)[:5]}"
    cl = _cluster_map(pipe2)
    assert set(cl) == kept_urls


def test_edit_same_counts_invalidates(spark, tmp_path):
    """Editing one doc's TEXT (row counts unchanged) still invalidates: the
    bucket checksum hashes (url, text), not just cardinality."""
    base = str(tmp_path / "cat")
    pipe = NDDPipeline(spark, CFG, base)
    pages = generate_pages(spark, 200)
    pipe.run(pages)
    h_before = pipe.stage3_run_hash()

    edited = pages.withColumn(
        "text",
        F.when(F.col("url") == url_of(5), F.lit("totally rewritten body"))
        .otherwise(F.col("text")),
    )
    pipe2 = NDDPipeline(spark, CFG, base)
    pipe2.stage0_ingest(edited)
    pipe2.stage1_signatures()
    assert pipe2.stage3_run_hash() != h_before, (
        "content edit with unchanged counts must change downstream hashes"
    )


def test_window_batch_kernel_invariants():
    """The vectorized window-hash kernel: (a) partition-layout independent
    (batch result == per-doc results), (b) finds a shared ≥min_len run at
    different offsets, (c) no cross-doc hash sharing for unrelated docs."""
    from near_duplicate_detection_spark.operators.substring import (
        window_hashes_batch,
    )

    rng = np.random.RandomState(0)

    def words(n, seed):
        return " ".join(f"w{seed}x{i}q{rng.randint(10**6)}" for i in range(n))

    shared = words(40, 99)  # ~400+ chars
    t1 = words(50, 1) + " " + shared + " " + words(50, 2)
    t2 = words(80, 3) + " " + shared
    t3 = words(100, 4)
    texts = [t1, t2, t3]
    d, h = window_hashes_batch(texts, 64, 8, 16)
    per_doc = [set(h[d == i]) for i in range(3)]
    assert per_doc[0] & per_doc[1], "shared run must yield common window hashes"
    assert not (per_doc[0] & per_doc[2])
    assert not (per_doc[1] & per_doc[2])
    for i, t in enumerate(texts):
        dd, hh = window_hashes_batch([t], 64, 8, 16)
        assert set(hh) == per_doc[i], f"layout-dependent hashes for doc {i}"
    # short doc: no window fits
    dd, hh = window_hashes_batch(["tiny"], 64, 8, 16)
    assert len(hh) == 0


def test_invalidate_urls_targeted_reindex(spark, tmp_path):
    """Targeted re-index (reference update_index videoids API,
    server_ndd.py:307-315): invalidating one url re-signs exactly its
    bucket on the next resume run, and downstream hashes change."""
    import os

    base = str(tmp_path / "cat")
    pipe = NDDPipeline(spark, CFG, base)
    pipe.run(generate_pages(spark, 200))
    h3 = pipe.stage3_run_hash()

    def mtimes():
        out = {}
        for dirpath, _d, files in os.walk(pipe.catalog.path("signatures")):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = mtimes()
    pipe.invalidate_urls([url_of(7)])
    # downstream hashes drift while the bucket is retracted…
    assert pipe.stage3_run_hash() != h3
    pipe2 = NDDPipeline(spark, CFG, base)
    pipe2.stage1_signatures()
    after = mtimes()
    changed = {k for k in after if k not in before or after[k] != before[k]}
    changed_buckets = {p.split("bucket=")[1].split("/")[0] for p in changed}
    assert len(changed_buckets) == 1, changed_buckets
    # …and settle back once the re-signed content proves identical (same
    # semantics as the reference: unchanged content ⇒ unchanged index)
    assert pipe2.stage3_run_hash() == h3
