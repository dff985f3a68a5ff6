"""Merge-on-read retraction (operators/mor.py): a delete/edit within the
log ceiling must commit ZERO bytes to the six governed stage-2/2b tables —
the retraction lands as one driver-written file appended to the
``retract_patch`` log, resolved by every reader through ``stage_view`` —
while staying cluster-identical to a full rebuild. The copy-on-write shape
(one full rewrite per stage table per retraction — O(corpus) write volume
for every delete at the 10^12-doc contract) survives only as the FOLD:
inline past ``retract_patch_ceiling``, or scheduled via ``compact()``.

Era semantics under test: an edited/re-added url re-enters under the SAME
url string, so url tombstones alone would kill the new rows — rows carry the
retraction-era stamp and a patch entry governs only rows that predate it.
Reference: ``update_index`` drops a vanished video's index entries without
rebuilding the index (ndd/server_ndd.py:246-261)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from near_duplicate_detection_spark.config import NDDConfig
from near_duplicate_detection_spark.operators import mor
from near_duplicate_detection_spark.pipeline import (
    AppendRefusedError,
    NDDPipeline,
)
from near_duplicate_detection_spark.sources.pages import generate_pages, url_of

CFG = NDDConfig(num_buckets=4)
N = 200
GOVERNED = mor.GOVERNED_TABLES


def _partition(clusters_pdf):
    return {
        frozenset(grp.url) for _, grp in clusters_pdf.groupby("cluster_id")
    }


def _table_files(cat, tables):
    """(path → (size, mtime_ns)) for every parquet file of the tables —
    byte-level evidence that a MOR commit wrote nothing to them."""
    out = {}
    for t in tables:
        root = cat.path(t)
        for r, _d, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(r, f))
                    out[os.path.join(r, f)] = (st.st_size, st.st_mtime_ns)
    return out


@pytest.fixture(scope="module")
def base_catalog(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ndd_mor_base"))
    NDDPipeline(spark, CFG, base).run(generate_pages(spark, N))
    return base


def _copy(base: str, tmp_path_factory, name: str) -> str:
    dst = str(tmp_path_factory.mktemp(name) / "cat")
    shutil.copytree(base, dst)
    return dst


def test_mor_delete_writes_nothing_to_governed_tables(
    spark, tmp_path_factory, base_catalog
):
    """The headline contract: a within-ceiling delete leaves every governed
    table's parquet files byte-untouched on disk (the retraction is the
    sidecar + the views), yet the clusters land exactly on the full-rebuild
    partition and the views show the retraction."""
    del_ids = (20, 43, 57, 11)  # rep-with-survivor, near-dup, substring, plain
    del_urls = [url_of(i) for i in del_ids]
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_mor_del")
    )
    before = _table_files(pipe.catalog, GOVERNED)
    clusters = pipe.delete_pages(del_urls).toPandas()
    assert _table_files(pipe.catalog, GOVERNED) == before
    assert pipe.catalog.exists(mor.PATCH_TABLE)
    m = pipe.catalog.read("metrics").toPandas()
    assert (
        m[(m.stage == "pairs") & (m.key == "retract_mor_commit")].value == 1
    ).any()
    # the views show the retraction the files don't
    seen_v = pipe.stage_view("seen")
    assert seen_v.where(F.col("url").isin(del_urls)).count() == 0
    assert pipe.catalog.read("seen").where(
        F.col("url").isin(del_urls)
    ).count() == len(del_urls)
    # rep inheritance: 20 was an exact-dup rep, 21 its surviving copy —
    # the reps view must now list 21 (inherited verbatim), never 20
    reps_v = pipe.stage_view("reps").select("url").toPandas().url
    assert url_of(20) not in set(reps_v)
    assert url_of(21) in set(reps_v)
    full = (
        NDDPipeline(
            spark, CFG, str(tmp_path_factory.mktemp("ndd_mor_del_full"))
        )
        .run(
            generate_pages(spark, N).where(~F.col("url").isin(del_urls))
        )
        .toPandas()
    )
    assert _partition(clusters) == _partition(full)


def test_mor_delete_never_rewrites_clusters(
    spark, tmp_path_factory, base_catalog
):
    """Stage-3 half of the MOR retraction: a within-ceiling delete APPENDS
    one clusters file (the dissolved clusters' surviving members, re-labeled
    at the new era) plus the ``cluster_tombstones`` sidecar — every
    pre-existing clusters file stays byte-untouched — and the view hides
    exactly the dissolved memberships while the physical rows remain until
    a fold reclaims them."""
    del_urls = [url_of(i) for i in (20, 43)]
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_mor_c3")
    )
    before = _table_files(pipe.catalog, ("clusters",))
    clusters = pipe.delete_pages(del_urls).toPandas()
    after = _table_files(pipe.catalog, ("clusters",))
    assert all(after.get(k) == v for k, v in before.items())
    assert len(after) == len(before) + 1  # exactly one appended file
    assert pipe.catalog.exists("cluster_tombstones")
    m = pipe.catalog.read("metrics").toPandas()
    assert (
        m[(m.stage == "clusters") & (m.key == "delta_retract_mor_commit")]
        .value == 1
    ).any()
    assert not set(del_urls) & set(clusters.url)
    raw = pipe.catalog.read("clusters")
    assert raw.where(F.col("url").isin(del_urls)).count() == len(del_urls)
    # and a later compact() folds both sidecars, views identical
    live_before = _partition(clusters)
    pipe.compact()
    assert not pipe.catalog.exists("cluster_tombstones")
    assert _partition(pipe.clusters_view().toPandas()) == live_before
    assert (
        pipe.catalog.read("clusters")
        .where(F.col("url").isin(del_urls))
        .count()
        == 0
    )


def test_era_guards_readded_url(spark, tmp_path_factory, base_catalog):
    """delete url → re-append the SAME url string with new content: the
    tombstone must kill only the pre-retraction rows (era discrimination),
    and the re-added rows must flow through every view untouched."""
    u = url_of(11)  # plain unique doc
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_mor_readd")
    )
    pipe.delete_pages([u])
    assert pipe.stage_view("seen").where(F.col("url") == u).count() == 0
    batch = spark.createDataFrame(
        [(u, "a brand new body for the re-added url eleven")],
        "url string, text string",
    )
    clusters = pipe.append_pages(batch).toPandas()
    # exactly ONE live row for u in each url view (the new era's), and the
    # patch entry still on disk did not swallow it
    assert pipe.catalog.exists(mor.PATCH_TABLE)
    assert pipe.stage_view("seen").where(F.col("url") == u).count() == 1
    assert pipe.stage_view("reps").where(F.col("url") == u).count() == 1
    assert u in set(clusters.url)
    snap = generate_pages(spark, N).withColumn(
        "text",
        F.when(
            F.col("url") == u,
            F.lit("a brand new body for the re-added url eleven"),
        ).otherwise(F.col("text")),
    )
    full = (
        NDDPipeline(
            spark, CFG, str(tmp_path_factory.mktemp("ndd_mor_readd_f"))
        )
        .run(snap)
        .toPandas()
    )
    assert _partition(clusters) == _partition(full)


def test_chained_retraction_composes_patch(
    spark, tmp_path_factory, base_catalog
):
    """Retract a rep (survivor inherits), then retract the survivor: the
    resolved entry must COMPOSE (A→B then B→C ⇒ A→C with A's original era),
    the views must stay duplicate-free, and the partition must equal the
    from-scratch rebuild. Docs 20/21 are exact copies; generate a third
    copy first so a survivor exists for the second retraction."""
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_mor_chain")
    )
    # sorts AFTER url_of(21) ("https://hot.example.com/...") so the
    # first retraction's survivor is 21 and the second composes onto third
    third = "https://zzz-copy.example.org/p/20"
    text20 = (
        generate_pages(spark, N)
        .where(F.col("url") == url_of(20))
        .select("text")
        .first()["text"]
    )
    pipe.append_pages(
        spark.createDataFrame([(third, text20)], "url string, text string")
    )
    pipe.delete_pages([url_of(20)])   # rep 20 → survivor (min of 21/third)
    pipe.delete_pages([url_of(21)])   # that survivor may itself be 21
    entries = {
        r["url"]: [(e["e"], e["nu"]) for e in r["__entries"]]
        for r in mor.patch_agg(pipe.catalog).collect()
    }
    # both retracted urls resolve to the ONE live copy — transitive closure
    # (read-time composition; 20's entry keeps its original, older era)
    [(era20, nu20)] = entries[url_of(20)]
    [(era21, nu21)] = entries[url_of(21)]
    assert nu20 == third and nu21 == third
    assert era20 < era21
    for t, key in (("seen", "url"), ("reps", "url")):
        v = pipe.stage_view(t).groupBy(key).count()
        assert v.where(F.col("count") > 1).count() == 0, t
    pairs_v = pipe.stage_view("pairs").groupBy("url_a", "url_b").count()
    assert pairs_v.where(F.col("count") > 1).count() == 0
    clusters = pipe.clusters_view().toPandas()
    snap = generate_pages(spark, N).where(
        ~F.col("url").isin([url_of(20), url_of(21)])
    )
    extra = spark.createDataFrame(
        [(third, text20)], "url string, text string"
    ).select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        F.lit(None).cast("string").alias("lang"),
    )
    full = (
        NDDPipeline(
            spark, CFG, str(tmp_path_factory.mktemp("ndd_mor_chain_f"))
        )
        .run(snap.unionByName(extra))
        .toPandas()
    )
    assert _partition(clusters) == _partition(full)


def test_double_update_same_url(spark, tmp_path_factory, base_catalog):
    """Two updates of one url = two patch entries for the same url at
    different eras; each must govern exactly its own era window (the middle
    rows die to the second entry, the final rows to none)."""
    u = url_of(88)
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_mor_dbl")
    )

    def batch(text):
        return spark.createDataFrame([(u, text)], "url string, text string")

    pipe.update_pages(batch("first rewrite of doc eighty eight"))
    pipe.update_pages(batch("second rewrite of doc eighty eight"))
    [row] = [
        r for r in mor.patch_agg(pipe.catalog).collect() if r["url"] == u
    ]
    eras = [e["e"] for e in row["__entries"]]
    assert len(eras) == 2 and eras[0] < eras[1]
    assert pipe.stage_view("seen").where(F.col("url") == u).count() == 1
    clusters = pipe.clusters_view().toPandas()
    snap = generate_pages(spark, N).withColumn(
        "text",
        F.when(
            F.col("url") == u, F.lit("second rewrite of doc eighty eight")
        ).otherwise(F.col("text")),
    )
    full = (
        NDDPipeline(
            spark, CFG, str(tmp_path_factory.mktemp("ndd_mor_dbl_f"))
        )
        .run(snap)
        .toPandas()
    )
    assert _partition(clusters) == _partition(full)


def test_inline_fold_past_patch_ceiling(
    spark, tmp_path_factory, base_catalog
):
    """Past ``retract_patch_ceiling`` the retraction FOLDS: the governed
    tables are rewritten copy-on-write (patch + new mapping applied, fresh
    era), the sidecar dies, and correctness is unchanged."""
    pipe = NDDPipeline(
        spark,
        NDDConfig(num_buckets=4, retract_patch_ceiling=1),
        _copy(base_catalog, tmp_path_factory, "ndd_mor_fold"),
    )
    del_urls = [url_of(i) for i in (20, 43)]
    before = _table_files(pipe.catalog, ("pairs", "seen"))
    clusters = pipe.delete_pages(del_urls).toPandas()
    assert not pipe.catalog.exists(mor.PATCH_TABLE)
    assert _table_files(pipe.catalog, ("pairs", "seen")) != before
    m = pipe.catalog.read("metrics").toPandas()
    assert (
        m[(m.stage == "pairs") & (m.key == "retract_fold")].value == 1
    ).any()
    # physical rows really died (fold, not sidecar)
    assert (
        pipe.catalog.read("seen").where(F.col("url").isin(del_urls)).count()
        == 0
    )
    full = (
        NDDPipeline(
            spark, CFG, str(tmp_path_factory.mktemp("ndd_mor_fold_f"))
        )
        .run(generate_pages(spark, N).where(~F.col("url").isin(del_urls)))
        .toPandas()
    )
    assert _partition(clusters) == _partition(full)


def test_compact_folds_patch_views_identical(
    spark, tmp_path_factory, base_catalog
):
    """compact() folds the retraction patch off the ingest path: every
    governed view byte-identical (row-identical) across the fold, sidecar
    gone, and the catalog still accepts further deltas."""
    del_urls = [url_of(i) for i in (20, 43, 57, 11)]
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_mor_cmp")
    )
    pipe.delete_pages(del_urls)
    assert pipe.catalog.exists(mor.PATCH_TABLE)
    views_before = {
        t: pipe.stage_view(t).toPandas().sort_values(
            [c for c in ("url", "url_a", "url_b", "win_hash")
             if c in pipe.stage_view(t).columns]
        ).reset_index(drop=True).drop(columns=["era"])
        for t in GOVERNED
    }
    clusters_before = _partition(pipe.clusters_view().toPandas())
    out = pipe.compact()
    assert out.get("retract_patch") == (1, 0)
    assert not pipe.catalog.exists(mor.PATCH_TABLE)
    for t in GOVERNED:
        after = (
            pipe.stage_view(t)
            .toPandas()
            .sort_values(
                [c for c in ("url", "url_a", "url_b", "win_hash")
                 if c in views_before[t].columns]
            )
            .reset_index(drop=True)
            .drop(columns=["era"])
        )
        assert after.equals(views_before[t]), t
    assert _partition(pipe.clusters_view().toPandas()) == clusters_before
    # further deltas land cleanly on the folded catalog
    appended = pipe.append_pages(generate_pages(spark, 210, start=N))
    assert appended.count() == N - len(del_urls) + 10


def test_patch_ceiling_is_execution_strategy_not_semantics(base_catalog):
    """retract_patch_ceiling must not invalidate resume state: excluded
    from every stage hash (the bucket_pair_ceiling lesson — knobs that
    change WHICH PLAN runs, never WHAT is committed, stay out)."""
    a, b = (
        NDDConfig(num_buckets=4, retract_patch_ceiling=c) for c in (1, 10**6)
    )
    for h in ("stage1_hash", "stage2_hash", "stage2b_hash", "stage3_hash"):
        assert getattr(a, h)() == getattr(b, h)(), h


def test_crash_mid_mor_routes_to_full(spark, tmp_path_factory, base_catalog):
    """delta.inflight up (simulated crash between the log append and the
    dissolve-log append) ⇒ every delta entry refuses; the heal rebuilds
    every stage, and every view equals a from-scratch rebuild's (the log
    stays on disk but governs none of the rebuilt rows)."""
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_mor_crash")
    )
    pipe.delete_pages([url_of(11)])
    pipe._set_marker("delta.inflight")  # a killed changeset
    with pytest.raises(AppendRefusedError, match="crash marker"):
        pipe.delete_pages([url_of(12)])
    snap = generate_pages(spark, N).where(F.col("url") != url_of(11))
    clusters = pipe.run_incremental(snap).toPandas()
    assert not pipe._delta_suspect()
    rebuilt = NDDPipeline(
        spark, CFG, str(tmp_path_factory.mktemp("ndd_mor_crash_f"))
    )
    full = rebuilt.run(snap).toPandas()
    assert _partition(clusters) == _partition(full)

    def views(p):
        out = {
            "pages": p.pages_table().select("url", "text"),
            "signatures": p.signatures_table().select("url", "fp"),
        }
        for t, cols in (
            ("seen", ["url", "fp"]),
            ("reps", ["url", "fp"]),
            ("pairs", ["url_a", "url_b"]),
            ("substring_pairs", ["url_a", "url_b"]),
        ):
            out[t] = p.stage_view(t).select(*cols)
        return {t: set(map(tuple, df.toPandas().values)) for t, df in out.items()}

    assert views(pipe) == views(rebuilt)


def test_era_counter_write_is_atomic(spark, tmp_path_factory, base_catalog):
    """The era bump goes through temp-file + os.replace: at no point does
    retract.era exist truncated (open('w') on the live path would tear it
    under a crash), and no temp file survives the bump."""
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_era_atomic")
    )
    before = pipe._retract_era()
    real_replace = os.replace
    observed = {}

    def spying_replace(src, dst):
        # at replace time the LIVE path still holds the old value (or is
        # absent) — the new value has never been exposed partially
        if dst.endswith("retract.era"):
            observed["live_before_swap"] = (
                open(dst).read().strip() if os.path.exists(dst) else None
            )
            observed["tmp_content"] = open(src).read().strip()
        return real_replace(src, dst)

    os.replace = spying_replace
    try:
        era = pipe._bump_retract_era()
    finally:
        os.replace = real_replace
    assert era == before + 1
    assert observed["tmp_content"] == str(era)
    assert observed["live_before_swap"] in (None, str(before))
    assert not os.path.exists(pipe._marker_path("retract.era") + ".tmp")
    assert pipe._retract_era() == era


def test_corrupt_era_counter_refuses_never_resets(
    spark, tmp_path_factory, base_catalog
):
    """An existing-but-unparsable retract.era (the torn-write shape the
    atomic bump prevents, or external truncation) must REFUSE, not read as
    0: a reset clock makes stored tombstone/patch entries govern the wrong
    rows with no error anywhere. Nothing may be mutated by the refused
    call."""
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_era_corrupt")
    )
    pipe.delete_pages([url_of(11)])  # real sidecar + era state to protect
    files_before = _table_files(
        pipe.catalog, GOVERNED + ("pages", "signatures", "clusters")
    )
    with open(pipe._marker_path("retract.era"), "w") as f:
        f.write("")  # torn write: truncated at open, never written
    with pytest.raises(RuntimeError, match="retract.era counter"):
        pipe.delete_pages([url_of(12)])
    assert files_before == _table_files(
        pipe.catalog, GOVERNED + ("pages", "signatures", "clusters")
    )
