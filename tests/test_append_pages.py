"""append_pages: the O(append) incremental entry point (reference
``update_index`` with explicit videoids, ndd/server_ndd.py:307-315).

The caller hands exactly the appended rows, so the engine must (a) produce
the same cluster partition as run_incremental / a full rebuild, (b) never
invoke the O(corpus) scans run_incremental needs to INFER the drift (the
snapshot diff, the stage-0 _input_stats) nor the full stage-2 rebuild —
pinned here by monkeypatching them to raise — and (c) refuse with nothing
mutated whenever its preconditions don't hold."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from near_duplicate_detection_spark.config import NDDConfig
from near_duplicate_detection_spark.pipeline import (
    AppendRefusedError,
    NDDPipeline,
)
from near_duplicate_detection_spark.sources.pages import generate_pages, url_of

CFG = NDDConfig(num_buckets=4)
# same structure-cutting boundaries as test_incremental.py: 301 leaves doc
# 300's exact copy, a near-dup of an old group, and substring partner 307
# of old 306 to the appended batch
N1, N2 = 301, 420


def _partition(clusters_pdf):
    return {
        frozenset(grp.url) for _, grp in clusters_pdf.groupby("cluster_id")
    }


def _n_jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@pytest.fixture(scope="module")
def base_catalog(spark, tmp_path_factory):
    """A committed full build at N1 docs; tests copy it to diverge."""
    base = str(tmp_path_factory.mktemp("ndd_ap_base"))
    NDDPipeline(spark, CFG, base).run(generate_pages(spark, N1))
    return base


def _copy(base: str, tmp_path_factory, name: str) -> str:
    dst = str(tmp_path_factory.mktemp(name) / "cat")
    shutil.copytree(base, dst)
    return dst


@pytest.fixture(scope="module")
def full_n2(spark, tmp_path_factory):
    return (
        NDDPipeline(spark, CFG, str(tmp_path_factory.mktemp("ndd_ap_full")))
        .run(generate_pages(spark, N2))
        .toPandas()
    )


def test_append_pages_matches_full_rebuild_and_skips_control_plane(
    spark, tmp_path_factory, monkeypatch, base_catalog, full_n2
):
    import near_duplicate_detection_spark.operators.delta as delta_mod

    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_ap_eq")
    )

    def boom(*a, **k):
        raise AssertionError("O(corpus) control-plane scan invoked")

    # the scans the O(append) contract must skip (VERDICT r3 #1), and the
    # full stage-2 rebuild: the batch must go through the changeset core
    monkeypatch.setattr(NDDPipeline, "_input_stats", boom)
    monkeypatch.setattr(NDDPipeline, "_snapshot_changeset", boom)
    monkeypatch.setattr(NDDPipeline, "stage2_pairs", boom)
    monkeypatch.setattr(delta_mod, "content_diff", boom)
    clusters = pipe.append_pages(
        generate_pages(spark, N2, start=N1)
    ).toPandas()
    assert len(clusters) == N2
    assert clusters.url.nunique() == N2
    assert _partition(clusters) == _partition(full_n2)
    # metrics: exactly the batch was ingested and signed, and no bucket was
    # rewritten beyond the base build's initial full write
    m = pipe.catalog.read("metrics").toPandas()
    assert (
        m[(m.stage == "pages") & (m.key == "appended_docs_ingested")].value
        == N2 - N1
    ).any()
    assert (
        m[(m.stage == "signatures") & (m.key == "appended_docs_signed")].value
        == N2 - N1
    ).any()
    rewrites = m[(m.stage == "pages") & (m.key == "buckets_rewritten")].value
    assert (rewrites > 0).sum() == 1  # the base build only


def test_pure_append_never_reads_edge_tables(
    spark, tmp_path_factory, monkeypatch, base_catalog, full_n2
):
    """A pure append touches NO corpus-edge table: stage 2b's already-
    verified prune uses the same run's appended stage-2 pairs (threaded
    from the stage-2 delta) and stage 3 contracts the logged edges —
    pairs/substring_pairs are never read through stage_view. Correctness
    is re-pinned against the full rebuild under the instrumented view."""
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_ap_noedge")
    )
    seen_tables: list[str] = []
    orig = NDDPipeline.stage_view

    def spy(self, table):
        seen_tables.append(table)
        return orig(self, table)

    monkeypatch.setattr(NDDPipeline, "stage_view", spy)
    clusters = pipe.append_pages(
        generate_pages(spark, N2, start=N1)
    ).toPandas()
    assert _partition(clusters) == _partition(full_n2)
    assert "pairs" not in seen_tables
    assert "substring_pairs" not in seen_tables


def test_append_pages_interchangeable_with_run_incremental(
    spark, tmp_path_factory, base_catalog, full_n2
):
    """Lineage written by append_pages must be exactly what run_incremental
    writes for the same rows: alternate the entry points batch by batch and
    land on the full rebuild's partition."""
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_ap_mix")
    )
    pipe.append_pages(generate_pages(spark, 340, start=N1))
    pipe.run_incremental(generate_pages(spark, 380))  # infers the 340→380 append
    clusters = pipe.append_pages(
        generate_pages(spark, N2, start=380)
    ).toPandas()
    assert _partition(clusters) == _partition(full_n2)


def test_append_pages_cheaper_than_run_incremental(
    spark, tmp_path_factory, base_catalog
):
    """Job-count evidence: the same batch through append_pages schedules
    materially fewer Spark jobs than through run_incremental (the fixed
    control-plane jobs are gone; job counts are noise-free on this host)."""
    batch = generate_pages(spark, N2, start=N1)
    p_inc = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_ap_jobs_inc")
    )
    j0 = _n_jobs(spark)
    p_inc.run_incremental(generate_pages(spark, N2))
    jobs_inc = _n_jobs(spark) - j0
    p_ap = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_ap_jobs_ap")
    )
    j0 = _n_jobs(spark)
    p_ap.append_pages(batch)
    jobs_ap = _n_jobs(spark) - j0
    assert jobs_ap < jobs_inc, (jobs_ap, jobs_inc)


def test_append_pages_refusals_mutate_nothing(
    spark, tmp_path_factory, base_catalog
):
    batch = generate_pages(spark, N2, start=N1)
    # no committed state at all
    empty = NDDPipeline(
        spark, CFG, str(tmp_path_factory.mktemp("ndd_ap_empty"))
    )
    with pytest.raises(AppendRefusedError, match="no committed pages lineage"):
        empty.append_pages(batch)
    # param drift: stamps/hashes built under other knobs must refuse
    drifted = NDDPipeline(
        spark,
        NDDConfig(num_buckets=4, jaccard_threshold=0.9),
        _copy(base_catalog, tmp_path_factory, "ndd_ap_drift"),
    )
    with pytest.raises(AppendRefusedError):
        drifted.append_pages(batch)
    # crash marker up
    marked = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_ap_marked")
    )
    marked._set_marker("delta.inflight")
    with pytest.raises(AppendRefusedError, match="crash marker"):
        marked.append_pages(batch)
    # in-batch duplicate urls
    dup = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_ap_dup")
    )
    n_pairs = dup.catalog.count_rows("pairs")
    with pytest.raises(AppendRefusedError, match="duplicate urls"):
        dup.append_pages(batch.union(batch.limit(1)))
    # nothing mutated: pairs table and pages lineage untouched
    assert dup.catalog.count_rows("pairs") == n_pairs
    assert dup.catalog.count_rows("pages") == N1


def test_append_pages_crash_marker_routes_retry_to_full(
    spark, tmp_path_factory, monkeypatch, base_catalog, full_n2
):
    """A kill mid-append leaves delta.inflight up; the retry refuses and
    run_incremental(full snapshot) heals to the full rebuild's partition."""
    from near_duplicate_detection_spark.lineage import StageCatalog

    cat_dir = _copy(base_catalog, tmp_path_factory, "ndd_ap_crash")
    pipe = NDDPipeline(spark, CFG, cat_dir)
    orig_write = StageCatalog.write

    def write_then_crash(self, df, table, **kw):
        orig_write(self, df, table, **kw)
        if table == "pairs":
            raise RuntimeError("simulated crash mid pairs append")

    monkeypatch.setattr(StageCatalog, "write", write_then_crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.append_pages(generate_pages(spark, N2, start=N1))
    monkeypatch.setattr(StageCatalog, "write", orig_write)
    assert pipe._delta_suspect()
    with pytest.raises(AppendRefusedError, match="crash marker"):
        pipe.append_pages(generate_pages(spark, N2, start=N1))
    healed = pipe.run_incremental(generate_pages(spark, N2)).toPandas()
    assert healed.url.nunique() == N2
    assert _partition(healed) == _partition(full_n2)
    assert not pipe._delta_suspect()


def test_append_pages_crash_at_signatures_commit_heals(
    spark, tmp_path_factory, monkeypatch, base_catalog, full_n2
):
    """The stage-0/1 commit's worst reachable window: the pages commit is
    durable and the batch's signatures files have landed, then the process
    dies at the signatures lineage commit. Pages lineage is ahead of
    signatures; the marker must refuse every retry and the full-snapshot
    heal must reach the rebuild's partition."""
    from near_duplicate_detection_spark.lineage import StageCatalog

    cat_dir = _copy(base_catalog, tmp_path_factory, "ndd_ap_sigs_crash")
    pipe = NDDPipeline(spark, CFG, cat_dir)
    orig_mark = StageCatalog.mark_complete

    def mark_then_crash(self, stage, *a, **kw):
        if stage == "signatures":
            raise RuntimeError("simulated crash at the signatures commit")
        orig_mark(self, stage, *a, **kw)

    monkeypatch.setattr(StageCatalog, "mark_complete", mark_then_crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.append_pages(generate_pages(spark, N2, start=N1))
    monkeypatch.setattr(StageCatalog, "mark_complete", orig_mark)

    def lineage_rows(stage):
        stats = pipe.catalog.latest_partition_stats(stage)
        return sum(rows for rows, _ in stats.values())

    assert (lineage_rows("pages"), lineage_rows("signatures")) == (N2, N1)
    assert pipe._delta_suspect()
    with pytest.raises(AppendRefusedError, match="crash marker"):
        pipe.append_pages(generate_pages(spark, N2, start=N1))
    healed = pipe.run_incremental(generate_pages(spark, N2)).toPandas()
    assert healed.url.nunique() == N2
    assert _partition(healed) == _partition(full_n2)
    assert not pipe._delta_suspect()


def test_pure_append_fast_path_routing(
    spark, tmp_path_factory, monkeypatch, base_catalog, full_n2
):
    """run_incremental's snapshot diff: a clean append snapshot is proven by
    the per-bucket checksum algebra alone — the content join never runs —
    and the appended rows go through the changeset core (the full stage-2
    rebuild is poisoned); an edited or shrunken snapshot fails the identity
    in the drifted bucket, whose content join yields the edit / delete."""
    import near_duplicate_detection_spark.operators.delta as delta_mod

    def boom(*a, **k):
        raise AssertionError("pure append left the probe-only path")

    # (a) pure append: content join and full stage 2 poisoned
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_fp_app")
    )
    monkeypatch.setattr(delta_mod, "content_diff", boom)
    monkeypatch.setattr(NDDPipeline, "stage2_pairs", boom)
    clusters = pipe.run_incremental(generate_pages(spark, N2)).toPandas()
    monkeypatch.undo()
    assert _partition(clusters) == _partition(full_n2)

    # (b) edit drift: the edited url is an upsert that replaces its row
    snap = generate_pages(spark, N2)
    edited = snap.withColumn(
        "text",
        F.when(F.col("url") == url_of(7), F.lit("edited body"))
        .otherwise(F.col("text")),
    )
    pipe_e = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_fp_edit")
    )
    upserts, deletes, _ = pipe_e._snapshot_changeset(
        edited, pipe_e._delta_preconditions()
    )
    assert deletes == [url_of(7)]
    assert upserts.count() == N2 - N1 + 1
    assert upserts.where(F.col("url") == url_of(7)).first()["text"] == (
        "edited body"
    )

    # (c) delete drift: the vanished url is a delete, the rest appends
    shrunk = snap.where(F.col("url") != url_of(7))
    pipe_d = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_fp_del")
    )
    upserts, deletes, _ = pipe_d._snapshot_changeset(
        shrunk, pipe_d._delta_preconditions()
    )
    assert deletes == [url_of(7)]
    assert upserts.count() == N2 - N1
    assert not upserts.where(F.col("url") == url_of(7)).count()


def test_pure_append_commits_clusters_append_only(
    spark, tmp_path_factory, base_catalog
):
    """A pure append with zero label merges must commit stage 3 by
    APPENDING only the new rows: the committed clusters files are left
    byte-untouched on disk (no corpus-table rewrite — the last
    corpus-proportional cost on the pure-append path), old memberships are
    unchanged, the novel docs enter as singletons, and the changeset's
    crash bracket is closed."""
    import os

    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_ap_aoc")
    )
    before = pipe.catalog.read("clusters").toPandas()
    cdir = pipe.catalog.path("clusters")
    files_before = {f for f in os.listdir(cdir) if f.endswith(".parquet")}
    batch = spark.createDataFrame(
        [
            (
                f"https://novel{i}.example/x",
                " ".join(f"novelword{i}x{j:03d}" for j in range(80)),
            )
            for i in range(12)
        ],
        "url string, text string",
    )
    after = pipe.append_pages(batch).toPandas()
    assert len(after) == N1 + 12
    files_after = {f for f in os.listdir(cdir) if f.endswith(".parquet")}
    assert files_before <= files_after, "old clusters files were rewritten"
    assert len(files_after) > len(files_before)
    # old memberships byte-for-byte; novel docs are singleton clusters
    assert _partition(after[after.url.isin(set(before.url))]) == _partition(
        before
    )
    novel = after[~after.url.isin(set(before.url))]
    assert (novel.url == novel.cluster_id).all()
    assert novel.is_representative.all()
    m = pipe.catalog.read("metrics").toPandas()
    assert (
        m[(m.stage == "clusters") & (m.key == "delta_append_only_commit")]
        .value
        == 1
    ).any()
    assert not pipe._delta_suspect()


def test_append_with_merge_uses_label_patch(
    spark, tmp_path_factory, base_catalog
):
    """An append whose batch MERGES into existing clusters (new url sorts
    below the old label) must still never rewrite the committed clusters
    files: the merge lands as a cluster_remap patch row applied by the
    read view, the returned labels equal a from-scratch rebuild's, and the
    next retraction folds the patch into its rewrite and wipes it."""
    import os

    from near_duplicate_detection_spark.sources.pages import doc_tokens

    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_ap_patch")
    )
    cdir = pipe.catalog.path("clusters")
    files_before = {f for f in os.listdir(cdir) if f.endswith(".parquet")}
    dup_url = "https://aaa.example/p/dup"  # sorts before every corpus url
    novel_url = "https://novelpatch.example/p/x"
    batch = spark.createDataFrame(
        [
            (dup_url, " ".join(doc_tokens(5)[0])),  # exact dup of doc 5
            (
                novel_url,
                " ".join(f"patchnovel{j:03d}" for j in range(80)),
            ),
        ],
        "url string, text string",
    )
    after = pipe.append_pages(batch).toPandas()
    files_after = {f for f in os.listdir(cdir) if f.endswith(".parquet")}
    assert files_before <= files_after, "old clusters files were rewritten"
    assert pipe.catalog.exists("cluster_remap")
    # the dup joined doc 5's cluster and relabeled it to the new min url
    grp = after[after.url == dup_url].cluster_id.iloc[0]
    assert grp == dup_url
    members = set(after[after.cluster_id == grp].url)
    assert url_of(5) in members
    assert after[after.url == url_of(5)].is_representative.iloc[0] == False  # noqa: E712
    # labels equal a from-scratch rebuild of the same corpus
    full = (
        NDDPipeline(
            spark, CFG, str(tmp_path_factory.mktemp("ndd_ap_patch_full"))
        )
        .run(
            generate_pages(spark, N1)
            .select("url", "text")
            .unionByName(batch)
        )
        .toPandas()
    )
    assert _partition(after) == _partition(full)
    # a retraction is itself merge-on-read now (stage-3 tombstones +
    # composed label patch — round-4 MOR retraction), so the sidecar
    # SURVIVES it; the scheduled fold (compact) is what wipes both
    folded = pipe.delete_pages([novel_url]).toPandas()
    assert set(folded[folded.cluster_id == grp].url) == members
    pipe.compact()
    assert not pipe.catalog.exists("cluster_remap")
    assert not pipe.catalog.exists("cluster_tombstones")
    assert set(
        pipe.clusters_view().toPandas().query("cluster_id == @grp").url
    ) == members


def test_append_then_delete_same_doc_restores_base(
    spark, tmp_path_factory, base_catalog
):
    """Appending a doc then deleting it cycles every content-derived run
    hash back to the BASE build's committed value while the retraction log
    is still pending — the stage-3 'already current' resume row must not
    shadow the retraction (the stale-but-plausible clusters table would
    keep the deleted url and the un-folded label patch)."""
    from near_duplicate_detection_spark.sources.pages import doc_tokens

    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_ap_cycle")
    )
    base = pipe.clusters_view().toPandas()
    dup_url = "https://aaa.example/p/cycle-dup"  # exact dup of doc 5,
    # url sorts first -> the append also lands a cluster_remap patch row
    batch = spark.createDataFrame(
        [(dup_url, " ".join(doc_tokens(5)[0]))], "url string, text string"
    )
    pipe.append_pages(batch)
    assert pipe.catalog.exists("cluster_remap")
    after = pipe.delete_pages([dup_url]).toPandas()
    assert len(after) == N1
    assert dup_url not in set(after.url)
    assert _partition(after) == _partition(base)
    # the MOR retraction keeps (composes) the label patch — the displayed
    # partition above is what matters; the changeset's bracket closed
    assert not pipe._delta_suspect()


def test_append_pages_keeps_one_pages_schema(
    spark, tmp_path_factory, base_catalog
):
    """Appended batches are written with the stored pages column set, so a
    reader that infers the schema from any single file sees every column,
    and compaction (which rewrites buckets from that view) keeps the base
    rows' passthrough columns. A (url, text) batch null-fills them."""
    import pyarrow.parquet as pq

    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_ap_schema")
    )
    langs = dict(pipe.pages_table().select("url", "lang").toPandas().values)
    batch = spark.createDataFrame(
        [(f"https://schema{i}.example/x", f"schema body {i} " * 30)
         for i in range(10)],
        "url string, text string",
    )
    pipe.append_pages(batch)
    pipe.compact()
    root = pipe.catalog.path("pages")
    col_sets = {
        frozenset(pq.read_schema(os.path.join(d, f)).names)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    }
    assert col_sets == {frozenset({"url", "warc_ts", "html", "text", "lang", "era"})}
    got = pipe.catalog.spark.read.option("mergeSchema", "true").parquet(root)
    rows = dict(got.select("url", "lang").toPandas().values)
    assert {u: rows[u] for u in langs} == langs
    assert all(rows[f"https://schema{i}.example/x"] is None for i in range(10))


def test_append_pages_job_count_pinned(spark, tmp_path_factory):
    """One append_pages of 20 docs onto a 100-doc, 4-bucket catalog submits
    at most 81 Spark jobs, the count measured at local[4] (83 while it
    also appended the two param-stamp tables, 91 before the shared
    changeset core)."""
    base = str(tmp_path_factory.mktemp("ndd_ap_jobcount"))
    pipe = NDDPipeline(spark, CFG, base)
    pipe.run(generate_pages(spark, 100))
    batch = generate_pages(spark, 120, start=100)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    pipe.append_pages(batch)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(set(tracker.getJobIdsForGroup(None)) - before)
    assert 0 < jobs <= 81, jobs
