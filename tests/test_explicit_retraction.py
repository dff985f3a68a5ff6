"""delete_pages / update_pages: the explicit O(change) retraction entry
points (reference ``update_index`` dropping / re-indexing explicit videoids,
ndd/server_ndd.py:246-261, 307-315).

The caller hands exactly the deleted urls (or edited rows), so the engine
must (a) produce the same cluster partition as a full rebuild over the
changed corpus, (b) never invoke the O(corpus) scans the inferred path needs
(the snapshot diff, the stage-0 _input_stats) nor the full stage-2 rebuild,
NOR re-sign a single unchanged doc through the signature UDF (all pinned
here by monkeypatching them to raise), and (c) refuse with nothing mutated
whenever its preconditions don't hold."""

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
# structure-cutting deletions: 20 is an exact-dup REP (21 copies it → the
# surviving member must inherit its rows), 43 is a near-dup member of 42's
# group, 57 is the substring partner of 56, 11 is a plain unique doc
DEL_IDS = (20, 43, 57, 11)
DEL_URLS = [url_of(i) for i in DEL_IDS]


def _partition(clusters_pdf):
    return {
        frozenset(grp.url) for _, grp in clusters_pdf.groupby("cluster_id")
    }


def _n_jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@pytest.fixture(scope="module")
def base_catalog(spark, tmp_path_factory):
    """A committed full build at N docs; tests copy it to diverge."""
    base = str(tmp_path_factory.mktemp("ndd_er_base"))
    NDDPipeline(spark, CFG, base).run(generate_pages(spark, N))
    return base


def _copy(base: str, tmp_path_factory, name: str) -> str:
    dst = str(tmp_path_factory.mktemp(name) / "cat")
    shutil.copytree(base, dst)
    return dst


def _poison_control_plane(monkeypatch, what: str = "scan+sign"):
    """Raise on every path an O(change) entry point must never take."""
    import near_duplicate_detection_spark.operators.delta as delta_mod
    import near_duplicate_detection_spark.pipeline as pipeline_mod

    def boom(*a, **k):
        raise AssertionError(f"forbidden path invoked ({what})")

    monkeypatch.setattr(NDDPipeline, "_input_stats", boom)
    monkeypatch.setattr(NDDPipeline, "_snapshot_changeset", boom)
    monkeypatch.setattr(NDDPipeline, "stage2_pairs", boom)
    monkeypatch.setattr(delta_mod, "content_diff", boom)
    if "sign" in what:
        monkeypatch.setattr(pipeline_mod, "signature_map_fn", boom)


def test_delete_pages_matches_full_rebuild_zero_resigning(
    spark, tmp_path_factory, monkeypatch, base_catalog
):
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_er_del")
    )
    # a delete must neither scan the corpus control-plane NOR re-sign any
    # doc: the signature UDF is poisoned too (the inferred path re-signs
    # every drifted bucket — ~the whole corpus for a uniform delete)
    _poison_control_plane(monkeypatch, "scan+sign")
    clusters = pipe.delete_pages(DEL_URLS).toPandas()
    assert len(clusters) == N - len(DEL_IDS)
    assert not set(DEL_URLS) & set(clusters.url)
    monkeypatch.undo()  # the comparison rebuild legitimately scans
    survivors = generate_pages(spark, N).where(~F.col("url").isin(DEL_URLS))
    full = (
        NDDPipeline(
            spark, CFG, str(tmp_path_factory.mktemp("ndd_er_del_full"))
        )
        .run(survivors)
        .toPandas()
    )
    assert _partition(clusters) == _partition(full)
    # MERGE-ON-READ: the views dropped the rows, the physical bucket files
    # kept them (the commit is one tombstone sidecar, zero bucket rewrites)
    assert pipe.pages_table().count() == N - len(DEL_IDS)
    assert pipe.signatures_table().count() == N - len(DEL_IDS)
    assert pipe.catalog.count_rows("pages") == N
    assert pipe.catalog.count_rows("signatures") == N
    assert pipe.catalog.count_rows(mor.PATCH_TABLE) == len(DEL_IDS)
    m = pipe.catalog.read("metrics").toPandas()
    assert (
        m[(m.stage == "pages") & (m.key == "deleted_docs")].value
        == len(DEL_IDS)
    ).any()
    assert (
        int(m[(m.stage == "pairs") & (m.key == "retracted_docs")].value.sum())
        == len(DEL_IDS)
    )
    # no crash marker left behind
    assert not pipe._delta_suspect()


def test_delete_pages_then_further_deltas_compose(
    spark, tmp_path_factory, base_catalog
):
    """The lineage a delete writes must be exactly what the other entry
    points expect: delete → append_pages → run_incremental lands on the
    from-scratch partition."""
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_er_mix")
    )
    pipe.delete_pages(DEL_URLS)
    pipe.append_pages(generate_pages(spark, 230, start=N))
    snap = generate_pages(spark, 260).where(~F.col("url").isin(DEL_URLS))
    clusters = pipe.run_incremental(snap).toPandas()
    full = (
        NDDPipeline(
            spark, CFG, str(tmp_path_factory.mktemp("ndd_er_mix_full"))
        )
        .run(snap)
        .toPandas()
    )
    assert _partition(clusters) == _partition(full)


def test_delete_pages_drops_emptied_bucket(
    spark, tmp_path_factory, base_catalog
):
    """Deleting every url of one bucket commits (0, 0) lineage for it and
    empties its view; the physical dir survives the merge-on-read commit
    and is dropped by the tombstone FOLD (compact)."""
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_er_empty")
    )
    doomed = [
        r["url"]
        for r in pipe.catalog.read("pages")
        .where(F.col("bucket") == 1)
        .select("url")
        .collect()
    ]
    assert doomed  # fixture sanity
    pipe.delete_pages(doomed)
    assert pipe.catalog.latest_partition_stats("pages", CFG.stage1_hash())[
        1
    ] == (0, 0)
    assert pipe.pages_table().where(F.col("bucket") == 1).count() == 0
    pipe.compact()  # fold reclaims the dead rows and the emptied dir
    for t in ("pages", "signatures"):
        assert not os.path.isdir(
            os.path.join(pipe.catalog.path(t), "bucket=1")
        )
    assert not pipe.catalog.exists(mor.PATCH_TABLE)
    assert pipe.catalog.count_rows("pages") == N - len(doomed)
    # and the catalog still accepts further deltas (append lands cleanly)
    clusters = pipe.append_pages(generate_pages(spark, 210, start=N))
    assert clusters.count() == N - len(doomed) + 10


def test_delete_pages_refusals_mutate_nothing(
    spark, tmp_path_factory, base_catalog
):
    # unknown url — the existence check is the delete path's cheap bonus
    # (the affected-bucket checksum scan counts the matches)
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_er_ref")
    )
    n_pages = pipe.catalog.count_rows("pages")
    with pytest.raises(AppendRefusedError, match="not in the corpus"):
        pipe.delete_pages([url_of(5), "https://nowhere.example.com/p/x"])
    assert pipe.catalog.count_rows("pages") == n_pages
    assert pipe.catalog.count_rows("pairs") > 0
    assert not pipe._delta_suspect()
    # over the broadcast-mapping ceiling (execution knob, not a stage hash)
    capped = NDDPipeline(
        spark,
        NDDConfig(num_buckets=4, max_retract=2),
        _copy(base_catalog, tmp_path_factory, "ndd_er_cap"),
    )
    with pytest.raises(AppendRefusedError, match="max_retract"):
        capped.delete_pages(DEL_URLS)
    assert capped.catalog.count_rows("pages") == n_pages
    # crash marker up
    marked = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_er_marked")
    )
    marked._set_marker("delta.inflight")
    with pytest.raises(AppendRefusedError, match="crash marker"):
        marked.delete_pages(DEL_URLS)
    # empty delete set is a no-op, not a refusal
    noop = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_er_noop")
    )
    assert noop.delete_pages([]).count() == N


def test_update_pages_matches_full_rebuild_signs_only_batch(
    spark, tmp_path_factory, monkeypatch, base_catalog
):
    """An explicit edit batch goes retraction + re-append with ONLY the
    batch through the signature UDF — the inferred path re-signs every
    drifted bucket (~the whole corpus for a uniform edit set)."""
    edit_urls = [url_of(i) for i in (20, 43, 57, 88)]
    edited_snap = generate_pages(spark, N).withColumn(
        "text",
        F.when(
            F.col("url").isin(edit_urls),
            F.concat(F.col("text"), F.lit(" freshly edited tail")),
        ).otherwise(F.col("text")),
    )
    batch = edited_snap.where(F.col("url").isin(edit_urls))
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_er_upd")
    )
    # corpus scans poisoned; the signature UDF must run (for the batch), so
    # only the control-plane scans are blocked here — batch-only signing is
    # pinned by the appended_docs_signed metric below
    _poison_control_plane(monkeypatch, "scan")
    clusters = pipe.update_pages(batch).toPandas()
    monkeypatch.undo()  # the comparison rebuild legitimately scans
    assert len(clusters) == N
    full = (
        NDDPipeline(
            spark, CFG, str(tmp_path_factory.mktemp("ndd_er_upd_full"))
        )
        .run(edited_snap)
        .toPandas()
    )
    assert _partition(clusters) == _partition(full)
    m = pipe.catalog.read("metrics").toPandas()
    signed = m[(m.stage == "signatures") & (m.key == "appended_docs_signed")]
    # the base build logs no such row; the update's append must be the
    # only nonzero signing, and exactly batch-sized
    assert signed.value[signed.value > 0].tolist() == [float(len(edit_urls))]
    assert (
        int(m[(m.stage == "pairs") & (m.key == "retracted_docs")].value.sum())
        == len(edit_urls)
    )
    # ONE clusters swap committed both halves (retraction + re-append):
    # exactly one delta metrics row, carrying both counts
    retr = m[(m.stage == "clusters") & (m.key == "delta_retracted_urls")]
    assert retr.value.tolist() == [float(len(edit_urls))]
    assert not pipe._delta_suspect()


def test_update_pages_refusals_mutate_nothing(
    spark, tmp_path_factory, base_catalog
):
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_er_uref")
    )
    n_pages = pipe.catalog.count_rows("pages")

    def batch_of(rows):
        return spark.createDataFrame(rows, "url string, text string")

    # unknown url — the affected-bucket checksum scan counts the matches
    with pytest.raises(AppendRefusedError, match="not in the corpus"):
        pipe.update_pages(
            batch_of(
                [(url_of(5), "x"), ("https://nowhere.example.com/p/x", "y")]
            )
        )
    # duplicate urls in the batch — two texts for one url is ambiguous
    with pytest.raises(AppendRefusedError, match="duplicate urls"):
        pipe.update_pages(batch_of([(url_of(5), "x"), (url_of(5), "y")]))
    # over the broadcast-mapping ceiling (execution knob, not a stage hash)
    capped = NDDPipeline(
        spark,
        NDDConfig(num_buckets=4, max_retract=2),
        pipe.catalog.base_dir,
    )
    with pytest.raises(AppendRefusedError, match="max_retract"):
        capped.update_pages(
            batch_of([(url_of(i), f"t{i}") for i in (1, 2, 3, 4)])
        )
    assert pipe.catalog.count_rows("pages") == n_pages
    assert pipe.catalog.count_rows("pairs") > 0
    assert not pipe._delta_suspect()
    # empty batch is a no-op, not a refusal
    assert pipe.update_pages(batch_of([])).count() == N


def test_update_pages_fused_beats_delete_then_append(
    spark, tmp_path_factory, base_catalog
):
    """The single-pass update must land on the same partition as the
    delete→append composition while scheduling materially fewer jobs (each
    affected bucket written once per table, one lineage advance, no
    intermediate no-op pairs/substring_pairs commit)."""
    edit_urls = [url_of(i) for i in (20, 43, 57, 88)]
    batch = spark.createDataFrame(
        [(u, f"rewritten body for {u} with fresh content") for u in edit_urls],
        "url string, text string",
    )
    p_fused = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_er_fuse")
    )
    j0 = _n_jobs(spark)
    fused = p_fused.update_pages(batch).toPandas()
    jobs_fused = _n_jobs(spark) - j0
    p_comp = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_er_comp")
    )
    j0 = _n_jobs(spark)
    p_comp.delete_pages(edit_urls)
    composed = p_comp.append_pages(batch).toPandas()
    jobs_composed = _n_jobs(spark) - j0
    assert _partition(fused) == _partition(composed)
    assert jobs_fused < jobs_composed, (jobs_fused, jobs_composed)


def test_explicit_paths_schedule_fewer_jobs_than_inferred(
    spark, tmp_path_factory, base_catalog
):
    """Job-count evidence (noise-free on this host): the same change through
    the explicit entry point schedules materially fewer Spark jobs than
    through run_incremental's inference."""
    shrunk = generate_pages(spark, N).where(~F.col("url").isin(DEL_URLS))
    p_inf = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_er_j_inf")
    )
    j0 = _n_jobs(spark)
    p_inf.run_incremental(shrunk)
    jobs_inferred = _n_jobs(spark) - j0
    p_exp = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_er_j_exp")
    )
    j0 = _n_jobs(spark)
    p_exp.delete_pages(DEL_URLS)
    jobs_explicit = _n_jobs(spark) - j0
    assert jobs_explicit < jobs_inferred, (jobs_explicit, jobs_inferred)
