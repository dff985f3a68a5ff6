"""Incremental paths (operators/delta.py, pipeline.run_incremental):
appends, edits, and deletes must each produce the SAME cluster partition as
a from-scratch rebuild, without re-running the corpus-wide band groupBy —
appends via the probe deltas + stage-3 cluster contraction, edits/deletes
via the targeted retraction (relabel/drop + dissolve-and-re-cluster)."""

from __future__ import annotations

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
# Chained appends that CUT planted dup structures across boundaries
# (generator roles: doc%20==1 exact-dups doc-1; %20 in (3,4) near-dup the
# %20==2 base; %50 in (6,7) substring pair): build at 301 leaves doc 300's
# exact copy (301) to append #1 (delta_exact matched-existing-rep branch);
# append to 304 leaves near-dup 304 of the now-old 302/303 group to append
# #2 (old-vs-new LSH band join); append to 307 leaves substring partner 307
# of the now-old 306 to append #3 (old-vs-new window join in the 2b delta).
# A 20/50-aligned boundary would make every planted pair fall entirely on
# one side and the equivalence test would pass trivially.
N1, N_MIDS, N2 = 301, (304, 307), 420


def _partition(clusters_pdf):
    return {
        frozenset(grp.url) for _, grp in clusters_pdf.groupby("cluster_id")
    }


@pytest.fixture(scope="module")
def incremental_built(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ndd_inc"))
    pipe = NDDPipeline(spark, CFG, base)
    pipe.run(generate_pages(spark, N1))
    pairs_before = pipe.catalog.count_rows("pairs")
    for n_mid in N_MIDS:
        pipe.run_incremental(generate_pages(spark, n_mid))
    clusters = pipe.run_incremental(generate_pages(spark, N2)).toPandas()
    return pipe, clusters, pairs_before


def test_incremental_covers_appended_docs(incremental_built):
    _, clusters, _ = incremental_built
    assert len(clusters) == N2


def test_incremental_matches_full_rebuild_partition(
    spark, tmp_path_factory, incremental_built
):
    _, inc_clusters, _ = incremental_built
    full = NDDPipeline(
        spark, CFG, str(tmp_path_factory.mktemp("ndd_full"))
    ).run(generate_pages(spark, N2)).toPandas()
    assert _partition(inc_clusters) == _partition(full)


def test_incremental_used_delta_path(incremental_built):
    """The delta run must have appended pairs (not overwritten them) and
    recorded the delta metric."""
    pipe, _, pairs_before = incremental_built
    metrics = pipe.catalog.read("metrics").toPandas()
    delta_rows = metrics[
        (metrics.stage == "pairs") & (metrics.key == "delta_new_docs")
    ]
    # three delta runs, together covering every appended doc
    assert len(delta_rows) == 3
    assert delta_rows.value.astype(int).sum() == N2 - N1
    # stage 2b must also have gone through its delta path
    sp_delta = metrics[
        (metrics.stage == "substring_pairs") & (metrics.key == "delta_new_docs")
    ]
    assert len(sp_delta) == 3
    assert pipe.catalog.count_rows("pairs") > pairs_before
    # the changeset core signed exactly the appended docs (value sums:
    # only the core emits the append keys, the full build none)
    sig = metrics[metrics.stage == "signatures"]
    assert (
        sig[sig.key == "appended_docs_signed"].value.astype(int).sum()
        == N2 - N1
    )
    assert sig[sig.key == "buckets_appended"].value.astype(int).sum() > 0
    # and appended the new pages without a rewrite: only the initial full
    # build rewrote buckets (appends hash into every bucket, so a bucket
    # rewrite per incremental run would rewrite the whole pages table)
    pg = metrics[metrics.stage == "pages"]
    assert (
        pg[pg.key == "buckets_rewritten"].value.astype(int).sum()
        == CFG.num_buckets
    )
    assert (
        pg[pg.key == "appended_docs_ingested"].value.astype(int).sum()
        == N2 - N1
    )
    # stage 3 must have used its DELTA path on every incremental run — the
    # contraction consumes only the logged appended edges, never the full
    # pairs ∪ substring_pairs edge set (round-3 incremental clustering)
    cl_delta = metrics[
        (metrics.stage == "clusters") & (metrics.key == "delta_new_edges")
    ]
    assert len(cl_delta) == 3
    # and the appended-edge volume it processed is a strict fraction of the
    # full edge set a rebuild would re-cluster
    total_edges = pipe.catalog.count_rows("pairs") + pipe.catalog.count_rows(
        "substring_pairs"
    )
    assert 0 < cl_delta.value.astype(int).sum() < total_edges


def test_cross_boundary_links_present(incremental_built):
    """The boundary-cut structures must be linked: 301 (appended) with its
    exact base 300 (old), and 303/304 (appended) with near base 302 (old)."""
    _, clusters, _ = incremental_built
    cl = dict(zip(clusters.url, clusters.cluster_id))
    assert cl[url_of(300)] == cl[url_of(301)]
    assert cl[url_of(302)] == cl[url_of(303)] == cl[url_of(304)]
    # substring pair cut by the 307 boundary (306 old, 307 appended):
    # linked by the 2b delta's old-vs-new window join
    assert cl[url_of(306)] == cl[url_of(307)]


def _mk_pages(spark, rows):
    """Hand-built pages table: rows = [(url, text)] → full input_hint shape."""
    import pandas as pd

    from near_duplicate_detection_spark.sources.pages import PAGES_SCHEMA

    pdf = pd.DataFrame(
        [
            (u, pd.Timestamp(1735689600 + i, unit="s", tz="UTC"),
             b"<html></html>", t, "en")
            for i, (u, t) in enumerate(rows)
        ],
        columns=["url", "warc_ts", "html", "text", "lang"],
    )
    return spark.createDataFrame(pdf, schema=PAGES_SCHEMA)


def test_append_merges_two_existing_clusters_via_stage3_delta(
    spark, tmp_path_factory
):
    """An appended bridge doc sharing a long verbatim run with members of TWO
    existing clusters must merge them — through the stage-3 contraction
    delta, not a full re-cluster (VERDICT r2 next-round #1 done-criterion)."""
    run_a = " ".join(f"alpharun{i:03d}" for i in range(60))   # ≥200 chars
    run_b = " ".join(f"betarun{i:03d}" for i in range(60))
    ctx_a = " ".join(f"acontext{i:03d}" for i in range(120))
    ctx_b = " ".join(f"bcontext{i:03d}" for i in range(120))
    base_rows = [
        ("https://a1.example/x", ctx_a + " " + run_a),
        ("https://a2.example/x", ctx_a + " " + run_a),   # exact dup of a1
        ("https://b1.example/x", ctx_b + " " + run_b),
        ("https://b2.example/x", ctx_b + " " + run_b),   # exact dup of b1
        ("https://u1.example/x", " ".join(f"unrelated{i:03d}" for i in range(90))),
        ("https://u2.example/x", " ".join(f"lonesome{i:03d}" for i in range(90))),
    ]
    base = str(tmp_path_factory.mktemp("ndd_merge"))
    pipe = NDDPipeline(spark, CFG, base)
    before = pipe.run(_mk_pages(spark, base_rows)).toPandas()
    parts_before = _partition(before)
    assert frozenset({"https://a1.example/x", "https://a2.example/x"}) in parts_before
    assert frozenset({"https://b1.example/x", "https://b2.example/x"}) in parts_before

    bridge = run_a + " " + " ".join(f"mid{i:03d}" for i in range(40)) + " " + run_b
    rows2 = base_rows + [("https://c.example/x", bridge)]
    merged = pipe.run_incremental(_mk_pages(spark, rows2)).toPandas()
    assert frozenset(
        {
            "https://a1.example/x", "https://a2.example/x",
            "https://b1.example/x", "https://b2.example/x",
            "https://c.example/x",
        }
    ) in _partition(merged)
    # equality with a from-scratch rebuild
    full = NDDPipeline(
        spark, CFG, str(tmp_path_factory.mktemp("ndd_merge_full"))
    ).run(_mk_pages(spark, rows2)).toPandas()
    assert _partition(merged) == _partition(full)
    # the merge went through the contraction delta (≥1 relabeled cluster)
    m = pipe.catalog.read("metrics").toPandas()
    relabeled = m[(m.stage == "clusters") & (m.key == "delta_merged_labels")]
    assert len(relabeled) == 1 and int(relabeled.value.iloc[0]) >= 1
    # the changeset's crash bracket closed with its clusters commit
    assert not pipe._delta_suspect()


def _edit_doc(spark, n, suffix):
    return generate_pages(spark, n).withColumn(
        "text",
        F.when(
            F.col("url").endswith(suffix),
            F.concat(F.col("text"), F.lit(" freshly edited tail")),
        ).otherwise(F.col("text")),
    )


def test_edit_retracts_and_matches_full(spark, tmp_path_factory):
    """An edited doc is handled by the targeted retraction + re-append —
    never a full stage-2 rebuild — and the clusters equal a from-scratch
    build (VERDICT r2 next-round #3 done-criterion). Doc 20 is an
    exact-dup REP (21 copies it): the retraction must hand its verified
    rows to the surviving member before the new content re-enters."""
    base = str(tmp_path_factory.mktemp("ndd_edit"))
    pipe = NDDPipeline(spark, CFG, base)
    pipe.run(generate_pages(spark, 100))
    edited = _edit_doc(spark, 100, "0020")
    clusters = pipe.run_incremental(edited).toPandas()
    assert len(clusters) == 100
    full = NDDPipeline(
        spark, CFG, str(tmp_path_factory.mktemp("ndd_edit_full"))
    ).run(edited).toPandas()
    assert _partition(clusters) == _partition(full)
    m = pipe.catalog.read("metrics").toPandas()
    # exactly one doc retracted, and the APPEND delta (not the full
    # rebuild) processed its new content: the full path would write a
    # second verified_pairs row without a delta_new_docs row
    assert (
        int(m[(m.stage == "pairs") & (m.key == "retracted_docs")].value.sum())
        == 1
    )
    assert len(m[(m.stage == "pairs") & (m.key == "delta_new_docs")]) == 1
    # stage 3 dissolved only the touched cluster(s), never re-clustering
    # the full edge set
    dis = m[(m.stage == "clusters") & (m.key == "delta_dissolved_clusters")]
    assert len(dis) == 1 and int(dis.value.iloc[0]) >= 1
    # no crash marker left behind
    assert not pipe._delta_suspect()


def test_retraction_cap_refuses_before_touching_state(
    spark, tmp_path_factory
):
    """An inferred retraction over max_retract is refused by the changeset
    core before any mutation; run_incremental then heals through the
    resume path (a full stage 2) instead of the targeted retraction."""
    base = str(tmp_path_factory.mktemp("ndd_cap"))
    NDDPipeline(spark, CFG, base).run(generate_pages(spark, 100))
    capped = NDDPipeline(spark, NDDConfig(num_buckets=4, max_retract=0), base)
    edited = _edit_doc(spark, 100, "0006")
    lineage = capped.catalog.latest_partition_stats("pages", CFG.stage1_hash())
    n_pairs = capped.catalog.count_rows("pairs")
    upserts, deletes, expect = capped._snapshot_changeset(
        edited, capped._delta_preconditions()
    )
    assert deletes == [url_of(6)]
    with pytest.raises(AppendRefusedError, match="max_retract"):
        capped._apply_changeset(upserts, deletes, expect)
    # the refusal happened before any rewrite
    assert not capped.catalog.exists(mor.PATCH_TABLE)
    assert not capped._delta_suspect()
    assert capped.catalog.count_rows("pairs") == n_pairs
    assert (
        capped.catalog.latest_partition_stats("pages", CFG.stage1_hash())
        == lineage
    )
    clusters = capped.run_incremental(edited).toPandas()
    assert len(clusters) == 100
    m = capped.catalog.read("metrics").toPandas()
    assert not len(m[(m.stage == "pairs") & (m.key == "retracted_docs")])
    # the resume path rebuilt stage 2: a second full verified_pairs row
    assert len(m[(m.stage == "pairs") & (m.key == "verified_pairs")]) == 2


def test_retract_crash_marker_forces_full_rebuild(spark, tmp_path_factory):
    """A crash mid-retraction leaves the inflight marker up: every delta
    entry point must refuse, and the full rebuild (which clears the
    marker) must ignore its lineage early-return while the marker is up."""
    base = str(tmp_path_factory.mktemp("ndd_crash"))
    pipe = NDDPipeline(spark, CFG, base)
    pipe.run(generate_pages(spark, 80))
    pipe._set_marker("delta.inflight")  # a killed retraction
    with pytest.raises(AppendRefusedError, match="crash marker"):
        pipe._delta_preconditions()
    clusters = pipe.run_incremental(generate_pages(spark, 90)).toPandas()
    assert len(clusters) == 90
    assert not pipe._delta_suspect()  # cleared by the committed rebuild


@pytest.mark.parametrize("killed", ["heal", "plain_run", "rebuild_over_patch"])
def test_lagging_clusters_refuse_deltas(
    spark, tmp_path_factory, monkeypatch, killed
):
    """A full build killed inside its clusters rewrite must never leave a
    catalog the delta paths accept with a wrong clusters view.

    ``heal`` / ``plain_run``: killed at the staged clusters write, clusters
    lag the committed edge tables: a heal (run under the crash marker)
    keeps the marker up, and a plain run leaves none but fails the clusters
    run-hash precondition. Either way append_pages refuses — accepting
    would commit a clusters view missing the killed run's docs.

    ``rebuild_over_patch``: an append lands a ``cluster_remap`` row, then a
    rebuild of the same snapshot is killed once at the staged write and
    once at the rename. After each kill either the marker is up and
    append_pages refuses, or the clusters view is the partition from
    before the kill (a rebuild that wiped the patch before rewriting the
    table would leave no marker and the copy split from its source).

    run_incremental then heals to the rebuild's partition."""
    import os

    from near_duplicate_detection_spark.lineage import StageCatalog

    base = str(tmp_path_factory.mktemp(f"ndd_lag_{killed}"))
    pipe = NDDPipeline(spark, CFG, base)
    pipe.run(generate_pages(spark, 80))
    orig_write, orig_rename = StageCatalog.write, os.rename

    def crash_at_staged_write(self, df, table, **kw):
        if table == "clusters_next":
            raise RuntimeError("simulated crash at the clusters write")
        return orig_write(self, df, table, **kw)

    def crash_at_rename(src, dst):
        if dst.endswith("clusters"):
            raise OSError("simulated crash at the clusters rename")
        return orig_rename(src, dst)

    if killed != "rebuild_over_patch":
        if killed == "heal":
            pipe._set_marker("delta.inflight")
        monkeypatch.setattr(StageCatalog, "write", crash_at_staged_write)
        with pytest.raises(RuntimeError, match="simulated crash"):
            if killed == "heal":
                pipe.run_incremental(generate_pages(spark, 90))
            else:
                pipe.run(generate_pages(spark, 90))
        monkeypatch.undo()
        assert pipe.clusters_view().count() == 80  # clusters lag the pairs
        with pytest.raises(AppendRefusedError):
            pipe.append_pages(generate_pages(spark, 100, start=90))
        snapshot = generate_pages(spark, 100)
    else:
        # an exact copy of doc 5 under a url sorting below every generated
        # one relabels doc 5's cluster
        copy_url = "https://aaa.example.com/p/copy-5"
        copy = (
            generate_pages(spark, 80)
            .where(F.col("url") == url_of(5))
            .withColumn("url", F.lit(copy_url))
        )
        pipe.append_pages(copy)
        assert pipe.catalog.exists("cluster_remap")
        snapshot = generate_pages(spark, 80).unionByName(copy)
        before = _partition(pipe.clusters_view().toPandas())
        assert frozenset({url_of(5), copy_url}) in before
        for target, name, crash in (
            (StageCatalog, "write", crash_at_staged_write),
            (os, "rename", crash_at_rename),
        ):
            monkeypatch.setattr(target, name, crash)
            with pytest.raises((RuntimeError, OSError), match="simulated crash"):
                pipe.run(snapshot, resume=False)
            monkeypatch.undo()
            if pipe._delta_suspect():
                with pytest.raises(AppendRefusedError, match="crash marker"):
                    pipe.append_pages(generate_pages(spark, 90, start=80))
            else:
                assert _partition(pipe.clusters_view().toPandas()) == before
        assert pipe._delta_suspect()  # the rename is inside the bracket

    healed = pipe.run_incremental(snapshot).toPandas()
    assert not pipe._delta_suspect()
    full = NDDPipeline(
        spark, CFG, str(tmp_path_factory.mktemp(f"ndd_lag_{killed}_full"))
    ).run(snapshot).toPandas()
    assert _partition(healed) == _partition(full)


def test_resume_trusts_only_latest_lineage_row(spark, tmp_path_factory):
    """Run hashes are content-derived, so rebuilding the original snapshot
    after an append reproduces the first build's hashes. Resume must trust
    only each partition's LATEST lineage row: the first build's older row
    with the same hash would skip stages 2-3 and keep the appended docs in
    pairs and clusters."""
    base = str(tmp_path_factory.mktemp("ndd_cycle"))
    pipe = NDDPipeline(spark, CFG, base)
    pipe.run(generate_pages(spark, 80))
    h3 = pipe.stage3_run_hash()
    pipe.append_pages(generate_pages(spark, 85, start=80))
    got = pipe.run(generate_pages(spark, 80)).toPandas()
    assert pipe.stage3_run_hash() == h3  # the hash did cycle back
    assert len(got) == 80
    full = NDDPipeline(
        spark, CFG, str(tmp_path_factory.mktemp("ndd_cycle_full"))
    ).run(generate_pages(spark, 80)).toPandas()
    assert _partition(got) == _partition(full)


def test_noop_incremental_is_cheap(spark, tmp_path_factory):
    """Same snapshot twice: the delta path must mark complete without
    appending anything."""
    base = str(tmp_path_factory.mktemp("ndd_noop"))
    pipe = NDDPipeline(spark, CFG, base)
    pipe.run(generate_pages(spark, 120))
    n_pairs = pipe.catalog.count_rows("pairs")
    pipe.run_incremental(generate_pages(spark, 120))
    assert pipe.catalog.count_rows("pairs") == n_pairs


def test_param_change_rejects_delta_state(spark, tmp_path_factory):
    """Delta state built under different stage-2/2b params must be rejected
    even with ZERO appended docs (the n_new==0 early-commit would otherwise
    bless stale results under the new hash)."""
    base = str(tmp_path_factory.mktemp("ndd_param"))
    pipe = NDDPipeline(spark, CFG, base)
    pipe.run(generate_pages(spark, 100))
    changed = NDDPipeline(
        spark,
        NDDConfig(num_buckets=4, jaccard_threshold=0.5, substring_min_len=400),
        base,
    )
    with pytest.raises(AppendRefusedError, match="pairs not committed"):
        changed._delta_preconditions()
    # a stage-2b-only change refuses on the 2b state; clusters' run hash
    # chains the 2b params too, so they are not committed under it either
    changed_2b = NDDPipeline(
        spark, NDDConfig(num_buckets=4, substring_min_len=400), base
    )
    with pytest.raises(AppendRefusedError, match="substring_pairs"):
        changed_2b._delta_preconditions()
    assert not changed_2b.catalog.completed_partitions(
        "clusters", changed_2b.stage3_run_hash()
    )
    # same params → the delta accepts, and an unchanged snapshot no-ops
    again = NDDPipeline(spark, CFG, base)
    assert again._delta_preconditions()
    n_pairs = again.catalog.count_rows("pairs")
    again.run_incremental(generate_pages(spark, 100))
    assert again.catalog.count_rows("pairs") == n_pairs
    # the changed params heal through the resume path: stage 2 and 2b are
    # recommitted under the new run hashes
    assert len(changed.run_incremental(generate_pages(spark, 100)).toPandas()) == 100
    cat = changed.catalog
    assert cat.completed_partitions("pairs", changed.stage2_run_hash())
    assert cat.completed_partitions(
        "substring_pairs", changed.stage2b_run_hash()
    )


class _KilledWrite(RuntimeError):
    pass


@pytest.mark.parametrize(
    "changed_cfg, table",
    [
        (NDDConfig(num_buckets=4, jaccard_threshold=0.5), "pairs"),
        (NDDConfig(num_buckets=4, substring_min_len=400), "substring_pairs"),
    ],
    ids=["pairs", "substring_pairs"],
)
def test_killed_param_changed_rewrite_refuses_old_params(
    spark, tmp_path_factory, monkeypatch, changed_cfg, table
):
    """A full stage-2 (or 2b) rewrite under changed params, killed at its
    table write, leaves lineage naming the OLD params. The old config's
    deltas must refuse anyway (the rewrite invalidated the stage's lineage
    before its first mutation) instead of appending onto tables half
    rebuilt under the new params; the old config then heals to a rebuild."""
    from near_duplicate_detection_spark.lineage import StageCatalog

    base = str(tmp_path_factory.mktemp(f"ndd_killed_{table}"))
    NDDPipeline(spark, CFG, base).run(generate_pages(spark, 80))
    write = StageCatalog.write

    def killing_write(cat, df, name, *args, **kwargs):
        if name == table:
            raise _KilledWrite(f"killed at write({name})")
        return write(cat, df, name, *args, **kwargs)

    monkeypatch.setattr(StageCatalog, "write", killing_write)
    with pytest.raises(_KilledWrite):
        NDDPipeline(spark, changed_cfg, base).run(generate_pages(spark, 80))
    monkeypatch.undo()

    old = NDDPipeline(spark, CFG, base)
    with pytest.raises(AppendRefusedError):
        old._delta_preconditions()
    got = old.run_incremental(generate_pages(spark, 90)).toPandas()
    full = NDDPipeline(
        spark, CFG, str(tmp_path_factory.mktemp(f"ndd_killed_{table}_f"))
    ).run(generate_pages(spark, 90)).toPandas()
    assert _partition(got) == _partition(full)


def test_delete_retracts_and_matches_full(spark, tmp_path_factory):
    """A shrunken snapshot (vanished docs) goes through the targeted
    retraction: vanished urls' rows are dropped from every stage table,
    their clusters dissolve and re-form, and the result equals a
    from-scratch build over the smaller snapshot."""
    base = str(tmp_path_factory.mktemp("ndd_del"))
    pipe = NDDPipeline(spark, CFG, base)
    pipe.run(generate_pages(spark, 120))
    smaller = generate_pages(spark, 90)
    clusters = pipe.run_incremental(smaller).toPandas()
    assert len(clusters) == 90
    full = NDDPipeline(
        spark, CFG, str(tmp_path_factory.mktemp("ndd_del_full"))
    ).run(smaller).toPandas()
    assert _partition(clusters) == _partition(full)
    m = pipe.catalog.read("metrics").toPandas()
    assert (
        int(m[(m.stage == "pairs") & (m.key == "retracted_docs")].value.sum())
        == 30
    )
    # a pure delete appends nothing: the full rebuild would write a second
    # verified_pairs metrics row — the retraction path must not
    assert len(m[(m.stage == "pairs") & (m.key == "verified_pairs")]) == 1
    cl_retr = m[(m.stage == "clusters") & (m.key == "delta_retracted_urls")]
    assert len(cl_retr) == 1 and int(cl_retr.value.iloc[0]) == 30
    assert not pipe._delta_suspect()


def test_stage3_full_crash_after_clusters_write_never_reapplies_log(
    spark, tmp_path_factory, monkeypatch
):
    """ADVICE r3: a crash right after stage 3's clusters write must never
    let a retry add the change a second time (the old stage-3 append log,
    left intact next to a clusters table that already incorporated it, made
    a retry's delta union the logged urls in again). The changeset's one
    crash bracket spans its clusters commit, so the marker is still up at
    the crash point and the retry routes to the idempotent full rebuild."""
    from near_duplicate_detection_spark.lineage import StageCatalog

    base = str(tmp_path_factory.mktemp("ndd_s3crash"))
    pipe = NDDPipeline(spark, CFG, base)
    pipe.run(generate_pages(spark, 100))

    # append via the stage-2/2b deltas, but force stage 3 down the FULL path
    # with the log still present (max_remap=0 refuses any merge remap — an
    # execution knob, so the committed state stays valid under it)
    forced = NDDPipeline(spark, NDDConfig(num_buckets=4, max_remap=0), base)
    orig_write = StageCatalog.write

    def write_then_crash(self, df, table, **kw):
        orig_write(self, df, table, **kw)
        if table == "clusters_next":
            raise RuntimeError("simulated crash after clusters write")

    monkeypatch.setattr(StageCatalog, "write", write_then_crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        forced.run_incremental(generate_pages(spark, 110))
    monkeypatch.setattr(StageCatalog, "write", orig_write)

    # the changeset's bracket is still open at the crash point
    assert pipe._delta_suspect()

    clusters = pipe.run_incremental(generate_pages(spark, 110)).toPandas()
    assert len(clusters) == 110
    assert clusters.url.nunique() == 110  # never duplicate url rows
    assert not pipe._delta_suspect()
    full = NDDPipeline(
        spark, CFG, str(tmp_path_factory.mktemp("ndd_s3crash_full"))
    ).run(generate_pages(spark, 110)).toPandas()
    assert _partition(clusters) == _partition(full)
