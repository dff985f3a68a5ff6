"""Snapshot-diff provider seam (run_incremental(changed_buckets=...)) —
round-4 VERDICT next-round #2: a caller that can enumerate the drifted
url-hash buckets (the Iceberg snapshot-metadata analog) must get an
inferred-path run whose snapshot-diff scans touch ONLY those buckets —
the url probe and the content join (``content_diff``) over the buckets it
flags, plus the stage-0 ``_input_stats`` of the resume fallback — while
producing the same cluster partition as a full rebuild. Default behavior
(no ``changed_buckets``) stays corpus-inferred and is pinned by the rest of
the suite.

Spy strategy (the test_explicit_retraction poison pattern, adapted): the
restricted scans still RUN — so instead of raising unconditionally, the
spies assert semantically that every frame reaching them contains zero
rows outside the declared buckets (an unrestricted corpus frame always
does), then delegate to the real implementation. The full stage-2 rebuild
is poisoned throughout: every case must go through the changeset core.
The pure-append case poisons the content join too: a clean append is
proven by the probe alone."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

import near_duplicate_detection_spark.operators.delta as delta_mod
from near_duplicate_detection_spark.config import NDDConfig
from near_duplicate_detection_spark.pipeline import NDDPipeline
from near_duplicate_detection_spark.sources.pages import generate_pages, url_of

# 8 buckets so a 3-url drift set occupies a PROPER subset of buckets —
# with 4 the declared set too often covers everything and the restriction
# assertions would be vacuous
CFG = NDDConfig(num_buckets=8)
N = 200


def _partition(clusters_pdf):
    return {
        frozenset(grp.url) for _, grp in clusters_pdf.groupby("cluster_id")
    }


def _buckets_of(spark, urls) -> set[int]:
    rows = (
        spark.createDataFrame([(u,) for u in urls], "url string")
        .select(
            F.pmod(F.xxhash64("url"), F.lit(CFG.num_buckets))
            .cast("int")
            .alias("b")
        )
        .collect()
    )
    return {int(r["b"]) for r in rows}


def _assert_within(df, buckets: set[int], label: str) -> None:
    outside = df.where(
        ~F.pmod(F.xxhash64("url"), F.lit(CFG.num_buckets))
        .cast("int")
        .isin([int(b) for b in sorted(buckets)])
    )
    assert outside.limit(1).count() == 0, (
        f"{label} reached a control-plane scan UNRESTRICTED "
        f"(rows outside declared buckets {sorted(buckets)})"
    )


@pytest.fixture(scope="module")
def base_catalog(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ndd_sd_base"))
    NDDPipeline(spark, CFG, base).run(generate_pages(spark, N))
    return base


def _copy(base, tmp_path_factory, name):
    dst = str(tmp_path_factory.mktemp(name) / "cat")
    shutil.copytree(base, dst)
    return dst


def _no_full_stage2(*a, **k):  # pragma: no cover - failure mode
    raise AssertionError("full stage-2 rebuild ran instead of the core")


def test_mixed_drift_restricted_scans_match_full(
    spark, tmp_path_factory, monkeypatch, base_catalog
):
    """Edit one doc + append two (mixed drift → the content join and a
    targeted retraction in the changeset core). With changed_buckets
    declared, every frame reaching _input_stats / content_diff must be
    bucket-restricted, and the result must equal a from-scratch rebuild of
    the same snapshot."""
    # doc 20 is an exact-dup rep (21 copies it) — the structure-cutting edit
    snapshot = generate_pages(spark, N + 2).withColumn(
        "text",
        F.when(
            F.col("url").endswith("0020"),
            F.concat(F.col("text"), F.lit(" seam edited tail")),
        ).otherwise(F.col("text")),
    )
    changed = _buckets_of(
        spark, [url_of(20), url_of(N), url_of(N + 1)]
    )
    assert len(changed) < CFG.num_buckets  # restriction is non-vacuous
    calls = {"stats": 0, "drift": 0}

    orig_stats = NDDPipeline._input_stats
    orig_drift = delta_mod.content_diff

    def spy_stats(self, pages):
        _assert_within(pages, changed, "_input_stats")
        calls["stats"] += 1
        return orig_stats(self, pages)

    def spy_drift(snapshot, committed):
        _assert_within(snapshot, changed, "content_diff(snapshot)")
        _assert_within(committed, changed, "content_diff(committed)")
        calls["drift"] += 1
        return orig_drift(snapshot, committed)

    monkeypatch.setattr(NDDPipeline, "_input_stats", spy_stats)
    monkeypatch.setattr(delta_mod, "content_diff", spy_drift)
    monkeypatch.setattr(NDDPipeline, "stage2_pairs", _no_full_stage2)

    cat_dir = _copy(base_catalog, tmp_path_factory, "ndd_sd_mixed")
    pipe = NDDPipeline(spark, CFG, cat_dir)
    clusters = pipe.run_incremental(
        snapshot, changed_buckets=changed
    ).toPandas()
    # the changeset core never runs the stage-0 stats scan (only the
    # resume fallback does); its spy stays as a guard on any path that
    # still reaches it
    assert calls["drift"] >= 1
    assert pipe._changed_buckets is None  # seam reset after the run
    assert len(clusters) == N + 2

    monkeypatch.undo()  # the comparison rebuild legitimately scans
    full = (
        NDDPipeline(
            spark, CFG, str(tmp_path_factory.mktemp("ndd_sd_full"))
        )
        .run(snapshot)
        .toPandas()
    )
    assert _partition(clusters) == _partition(full)


def test_pure_append_with_seam_never_full_scans(
    spark, tmp_path_factory, monkeypatch, base_catalog
):
    """Append-only drift + declared buckets: the restricted url probe
    proves the append and the changeset core applies it WITHOUT the stage-0
    stats scan, the content join or the full stage-2 rebuild — all three
    poisoned to raise — and the result matches a full rebuild."""
    snapshot = generate_pages(spark, N + 3)
    changed = _buckets_of(spark, [url_of(N + i) for i in range(3)])

    def boom(*a, **k):  # pragma: no cover - failure mode
        raise AssertionError("corpus control-plane scan invoked")

    monkeypatch.setattr(NDDPipeline, "_input_stats", boom)
    monkeypatch.setattr(delta_mod, "content_diff", boom)
    monkeypatch.setattr(NDDPipeline, "stage2_pairs", _no_full_stage2)

    cat_dir = _copy(base_catalog, tmp_path_factory, "ndd_sd_append")
    pipe = NDDPipeline(spark, CFG, cat_dir)
    clusters = pipe.run_incremental(
        snapshot, changed_buckets=changed
    ).toPandas()
    assert len(clusters) == N + 3

    monkeypatch.undo()
    full = (
        NDDPipeline(
            spark, CFG, str(tmp_path_factory.mktemp("ndd_sd_afull"))
        )
        .run(snapshot)
        .toPandas()
    )
    assert _partition(clusters) == _partition(full)


def test_delete_drift_restricted_matches_full(
    spark, tmp_path_factory, monkeypatch, base_catalog
):
    """Delete-only drift under the seam: the snapshot drops two docs (one an
    exact-dup rep whose rows must transfer to the surviving member). The
    diff's restricted scans must stay inside the declared buckets and the
    core's retraction must match a from-scratch rebuild of the shrunken
    corpus."""
    gone = [url_of(20), url_of(11)]
    snapshot = generate_pages(spark, N).where(~F.col("url").isin(gone))
    changed = _buckets_of(spark, gone)
    assert len(changed) < CFG.num_buckets

    orig_stats = NDDPipeline._input_stats
    orig_drift = delta_mod.content_diff
    calls = {"drift": 0}

    def spy_stats(self, pages):
        _assert_within(pages, changed, "_input_stats")
        return orig_stats(self, pages)

    def spy_drift(snapshot, committed):
        _assert_within(snapshot, changed, "content_diff(snapshot)")
        _assert_within(committed, changed, "content_diff(committed)")
        calls["drift"] += 1
        return orig_drift(snapshot, committed)

    monkeypatch.setattr(NDDPipeline, "_input_stats", spy_stats)
    monkeypatch.setattr(delta_mod, "content_diff", spy_drift)
    monkeypatch.setattr(NDDPipeline, "stage2_pairs", _no_full_stage2)

    cat_dir = _copy(base_catalog, tmp_path_factory, "ndd_sd_del")
    pipe = NDDPipeline(spark, CFG, cat_dir)
    clusters = pipe.run_incremental(
        snapshot, changed_buckets=changed
    ).toPandas()
    assert len(clusters) == N - 2
    assert not set(gone) & set(clusters.url)
    assert calls["drift"] >= 1

    monkeypatch.undo()
    full = (
        NDDPipeline(
            spark, CFG, str(tmp_path_factory.mktemp("ndd_sd_dfull"))
        )
        .run(snapshot)
        .toPandas()
    )
    assert _partition(clusters) == _partition(full)


def test_changed_buckets_validation(spark, tmp_path_factory, base_catalog):
    cat_dir = _copy(base_catalog, tmp_path_factory, "ndd_sd_val")
    pipe = NDDPipeline(spark, CFG, cat_dir)
    with pytest.raises(ValueError, match="changed_buckets"):
        pipe.run_incremental(
            generate_pages(spark, N), changed_buckets=[CFG.num_buckets]
        )
    assert pipe._changed_buckets is None


def test_duplicate_url_snapshot_refused_before_mutation(
    spark, tmp_path_factory, base_catalog
):
    """A snapshot that repeats a url (two texts for one primary key) is
    refused by the diff's per-bucket distinct-url count with ValueError,
    before anything is written — the resume path would otherwise ingest
    both rows."""
    cat_dir = _copy(base_catalog, tmp_path_factory, "ndd_sd_dup")
    pipe = NDDPipeline(spark, CFG, cat_dir)
    lineage_rows = pipe.catalog.count_rows("lineage")
    snapshot = generate_pages(spark, N + 2)
    dup = snapshot.where(F.col("url") == url_of(5)).withColumn(
        "text", F.lit("a second text for the same url")
    )
    with pytest.raises(ValueError, match="repeats a url"):
        pipe.run_incremental(snapshot.unionByName(dup))
    assert pipe.catalog.count_rows("lineage") == lineage_rows
    assert pipe.catalog.count_rows("pages") == N
    assert not pipe._delta_suspect()
    # the deduplicated snapshot still applies through the core
    assert len(pipe.run_incremental(snapshot).toPandas()) == N + 2
