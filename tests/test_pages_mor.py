"""Merge-on-read deletes/updates for the BUCKET tables (pages/signatures):
an explicit retraction appends ONE driver-written file to the
``retract_patch`` log instead of rewriting every affected bucket — the
Iceberg v2 position-delete analog; the same log governs the stage-2/2b
tables (operators/mor.py). Pinned here:

- a delete leaves every committed pages/signatures parquet file
  byte-untouched on disk (the commit is the log file + lineage only), and
  bumps the era once;
- an update appends new era-stamped files and tombstones the old rows —
  old files byte-untouched, views show only the new text;
- era semantics: a url deleted then re-appended (same url string) is
  visible again (the tombstone governs only rows that predate it);
- ``retract_patch_ceiling`` is the MOR/CoW switch: 0 restores the
  copy-on-write bucket rewrite exactly (emptied buckets dropped in the same
  call), and crossing the ceiling folds the stored log physically;
- a crash marker makes ``run`` rebuild from scratch, so a killed delete or
  append heals to its pre-change snapshot;
- the query path reads through the views (a deleted url never surfaces).

Reference semantics: ``update_index`` drops a vanished video's entries by
videoid without rebuilding index storage (ndd/server_ndd.py:246-261)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from near_duplicate_detection_spark.config import NDDConfig
from near_duplicate_detection_spark.lineage import StageCatalog
from near_duplicate_detection_spark.operators import mor
from near_duplicate_detection_spark.pipeline import NDDPipeline, query_top_k
from near_duplicate_detection_spark.sources.pages import generate_pages, url_of

CFG = NDDConfig(num_buckets=4)
N = 160
DEL_URLS = [url_of(i) for i in (20, 43, 11)]


def _file_states(cat, table) -> dict[str, tuple[int, float]]:
    out = {}
    root = cat.path(table)
    for r, _d, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(r, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def _partition(pdf):
    return {frozenset(g.url) for _, g in pdf.groupby("cluster_id")}


@pytest.fixture(scope="module")
def base_catalog(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ndd_pmor_base"))
    NDDPipeline(spark, CFG, base).run(generate_pages(spark, N))
    return base


def _copy(base, tmp_path_factory, name):
    dst = str(tmp_path_factory.mktemp(name) / "cat")
    shutil.copytree(base, dst)
    return dst


def test_delete_leaves_bucket_files_byte_untouched(
    spark, tmp_path_factory, base_catalog
):
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_pmor_del")
    )
    before = {t: _file_states(pipe.catalog, t) for t in ("pages", "signatures")}
    pipe.delete_pages(DEL_URLS)
    for t in ("pages", "signatures"):
        assert _file_states(pipe.catalog, t) == before[t], t
    assert pipe.catalog.count_rows(mor.PATCH_TABLE) == len(DEL_URLS)
    assert pipe.pages_table().count() == N - len(DEL_URLS)
    assert pipe.signatures_table().count() == N - len(DEL_URLS)
    # the query path reads the views: the deleted doc never surfaces
    deleted_text = (
        generate_pages(spark, N)
        .where(F.col("url") == DEL_URLS[0])
        .select("text")
        .first()["text"]
    )
    hits = query_top_k(
        spark, pipe.catalog, CFG, deleted_text, k=5
    ).toPandas()
    assert DEL_URLS[0] not in set(hits.url)


def test_update_appends_files_and_tombstones_old_rows(
    spark, tmp_path_factory, base_catalog
):
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_pmor_upd")
    )
    before = {t: _file_states(pipe.catalog, t) for t in ("pages", "signatures")}
    urls = [url_of(i) for i in (30, 77)]
    batch = spark.createDataFrame(
        [(u, f"rewritten body for {u} entirely fresh") for u in urls],
        "url string, text string",
    )
    pipe.update_pages(batch)
    for t in ("pages", "signatures"):
        after = _file_states(pipe.catalog, t)
        # every pre-existing file byte-untouched; only NEW files appeared
        assert set(before[t]) <= set(after), t
        assert all(after[f] == st for f, st in before[t].items()), t
        assert len(after) > len(before[t]), t
    # the views resolve to exactly one live row per url, with the new text
    live = (
        pipe.pages_table()
        .where(F.col("url").isin(urls))
        .select("url", "text")
        .toPandas()
    )
    assert len(live) == len(urls)
    assert all(t.startswith("rewritten body") for t in live.text)
    assert pipe.pages_table().count() == N
    assert pipe.signatures_table().count() == N


def test_delete_then_reappend_same_url_is_visible(
    spark, tmp_path_factory, base_catalog
):
    """Era semantics: the tombstone kills only rows that predate it — a
    re-appended row (same url string) carries a newer era and survives."""
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_pmor_re")
    )
    url = url_of(11)
    pipe.delete_pages([url])
    assert pipe.pages_table().where(F.col("url") == url).count() == 0
    pipe.append_pages(
        spark.createDataFrame(
            [(url, "a brand new body after the delete")],
            "url string, text string",
        )
    )
    row = (
        pipe.pages_table().where(F.col("url") == url).select("text").first()
    )
    assert row["text"] == "a brand new body after the delete"
    # exactly one live row (the dead one is still on disk, governed)
    assert pipe.pages_table().where(F.col("url") == url).count() == 1
    assert (
        pipe.catalog.read("pages").where(F.col("url") == url).count() == 2
    )


def test_delete_of_already_deleted_url_refuses(
    spark, tmp_path_factory, base_catalog
):
    """The existence check reads the VIEW: a url whose physical row is
    merge-on-read dead must not pass validation (a raw-table check would
    match the dead row and double-subtract the lineage checksum)."""
    from near_duplicate_detection_spark.pipeline import AppendRefusedError

    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_pmor_dd")
    )
    pipe.delete_pages([DEL_URLS[0]])
    stats_before = pipe.catalog.latest_partition_stats(
        "pages", CFG.stage1_hash()
    )
    with pytest.raises(AppendRefusedError, match="not in the corpus"):
        pipe.delete_pages([DEL_URLS[0]])
    # refusal mutated nothing: lineage stats and log unchanged
    assert (
        pipe.catalog.latest_partition_stats("pages", CFG.stage1_hash())
        == stats_before
    )
    assert pipe.catalog.count_rows(mor.PATCH_TABLE) == 1


def test_ceiling_zero_restores_copy_on_write(
    spark, tmp_path_factory, base_catalog
):
    cow = NDDPipeline(
        spark,
        NDDConfig(num_buckets=4, retract_patch_ceiling=0),
        _copy(base_catalog, tmp_path_factory, "ndd_pmor_cow"),
    )
    cow.delete_pages(DEL_URLS)
    assert not cow.catalog.exists(mor.PATCH_TABLE)
    assert cow.catalog.count_rows("pages") == N - len(DEL_URLS)
    assert cow.catalog.count_rows("signatures") == N - len(DEL_URLS)
    m = cow.catalog.read("metrics").toPandas()
    assert (
        m[(m.stage == "pages") & (m.key == "buckets_rewritten")].value > 0
    ).any()


def test_ceiling_crossing_folds_stored_tombstones(
    spark, tmp_path_factory, base_catalog
):
    """stored + batch > ceiling: the log (both batches' entries) folds
    physically (governed buckets rewritten, log dropped) — after which
    views and a from-scratch rebuild agree."""
    pipe = NDDPipeline(
        spark,
        NDDConfig(num_buckets=4, retract_patch_ceiling=4),
        _copy(base_catalog, tmp_path_factory, "ndd_pmor_fold"),
    )
    pipe.delete_pages(DEL_URLS)  # 3 <= 4: merge-on-read
    assert pipe.catalog.exists(mor.PATCH_TABLE)
    extra = [url_of(i) for i in (57, 88)]
    clusters = pipe.delete_pages(extra).toPandas()  # 3 + 2 > 4: fold
    assert not pipe.catalog.exists(mor.PATCH_TABLE)
    assert pipe.catalog.count_rows("pages") == N - 5
    assert pipe.catalog.count_rows("signatures") == N - 5
    survivors = generate_pages(spark, N).where(
        ~F.col("url").isin(DEL_URLS + extra)
    )
    full = (
        NDDPipeline(
            spark, CFG, str(tmp_path_factory.mktemp("ndd_pmor_fold_full"))
        )
        .run(survivors)
        .toPandas()
    )
    assert _partition(clusters) == _partition(full)


def test_crash_after_tombstone_write_heals_to_full_rebuild(
    spark, tmp_path_factory, monkeypatch, base_catalog
):
    """A kill right after the retract_patch log append (before lineage
    advances or the stage-2 log edits run) leaves delta.inflight up: every
    delta entry refuses, and run_incremental on the intended post-delete
    snapshot heals — every table is rebuilt from the snapshot at the
    current era (>= the log entries' era, so the log governs nothing that
    survives) and clusters match a from-scratch rebuild on the
    survivors."""
    from near_duplicate_detection_spark.pipeline import AppendRefusedError

    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_pmor_crash")
    )
    orig = StageCatalog._append_small

    def append_then_crash(self, table, pdf, schema):
        orig(self, table, pdf, schema)
        if table == mor.PATCH_TABLE:
            raise RuntimeError("simulated crash after log append")

    monkeypatch.setattr(StageCatalog, "_append_small", append_then_crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.delete_pages(DEL_URLS)
    monkeypatch.setattr(StageCatalog, "_append_small", orig)
    assert pipe._delta_suspect()
    with pytest.raises(AppendRefusedError, match="crash marker"):
        pipe.delete_pages(DEL_URLS)
    survivors = generate_pages(spark, N).where(~F.col("url").isin(DEL_URLS))
    healed = pipe.run_incremental(survivors).toPandas()
    assert set(healed.url) == {
        r["url"] for r in survivors.select("url").collect()
    }
    full = (
        NDDPipeline(
            spark, CFG, str(tmp_path_factory.mktemp("ndd_pmor_crash_full"))
        )
        .run(survivors)
        .toPandas()
    )
    assert _partition(healed) == _partition(full)
    assert not pipe._delta_suspect()


def test_compact_folds_page_tombstones(
    spark, tmp_path_factory, base_catalog
):
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_pmor_cmp")
    )
    pipe.delete_pages(DEL_URLS)
    view_before = pipe.pages_table().select("url").toPandas()
    out = pipe.compact()
    assert out.get(mor.PATCH_TABLE) == (1, 0)
    assert not pipe.catalog.exists(mor.PATCH_TABLE)
    assert pipe.catalog.count_rows("pages") == N - len(DEL_URLS)
    # pure physical reorganization: the view is row-identical
    view_after = pipe.pages_table().select("url").toPandas()
    assert set(view_before.url) == set(view_after.url)
    # and further deltas land cleanly on the folded catalog
    assert (
        pipe.append_pages(generate_pages(spark, N + 10, start=N)).count()
        == N - len(DEL_URLS) + 10
    )


def test_delete_bumps_era_once_and_appends_one_log_file(
    spark, tmp_path_factory, base_catalog
):
    """One delete_pages is one changeset: ONE era bump and ONE log file
    holding its raw mapping at that era (the stored files are never
    rewritten)."""
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_pmor_era")
    )
    era0 = pipe._retract_era()
    pipe.delete_pages(DEL_URLS[:2])
    assert pipe._retract_era() == era0 + 1
    assert pipe.catalog.file_count(mor.PATCH_TABLE) == 1
    first = _file_states(pipe.catalog, mor.PATCH_TABLE)
    rows = pipe.catalog.read_small_rows(mor.PATCH_TABLE, ["url", "era"])
    assert sorted(rows) == sorted((u, era0 + 1) for u in DEL_URLS[:2])
    pipe.delete_pages(DEL_URLS[2:])
    assert pipe._retract_era() == era0 + 2
    after = _file_states(pipe.catalog, mor.PATCH_TABLE)
    assert len(after) == 2
    assert all(after[f] == st for f, st in first.items())


def test_ceiling_zero_drops_emptied_bucket_in_same_call(
    spark, tmp_path_factory, base_catalog
):
    """With ``retract_patch_ceiling=0`` the delete folds in the same call:
    deleting every url of one bucket drops that bucket's pages and
    signatures directories before delete_pages returns."""
    pipe = NDDPipeline(
        spark,
        NDDConfig(num_buckets=4, retract_patch_ceiling=0),
        _copy(base_catalog, tmp_path_factory, "ndd_pmor_cow_empty"),
    )
    doomed = [
        r["url"]
        for r in pipe.catalog.read("pages")
        .where(F.col("bucket") == 2)
        .select("url")
        .collect()
    ]
    assert doomed  # fixture sanity
    clusters = pipe.delete_pages(doomed).toPandas()
    for t in ("pages", "signatures"):
        assert not os.path.isdir(os.path.join(pipe.catalog.path(t), "bucket=2"))
    assert not pipe.catalog.exists(mor.PATCH_TABLE)
    assert pipe.catalog.count_rows("pages") == N - len(doomed)
    assert not set(doomed) & set(clusters.url)


def test_crash_marker_heal_rebuilds_to_pre_change_snapshot(
    spark, tmp_path_factory, monkeypatch
):
    """Under a crash marker ``run`` rebuilds every stage instead of
    trusting the stage-0/1 lineage. Two windows, each healed by
    ``run_incremental`` with the UNCHANGED snapshot (the caller treats the
    killed call as not done): a delete killed right after its log append,
    and an append killed before its pages lineage commit (its rows are
    already on disk). The pages view must equal the snapshot, clusters the
    rebuild's partition, and url 11 must answer a query on its own text."""
    n = 60
    snap = generate_pages(spark, n)
    want_pages = {(r["url"], r["text"]) for r in snap.select("url", "text").collect()}
    text11 = snap.where(F.col("url") == url_of(11)).first()["text"]
    base = str(tmp_path_factory.mktemp("ndd_pmor_heal_base"))
    NDDPipeline(spark, CFG, base).run(snap)
    full = _partition(
        NDDPipeline(spark, CFG, str(tmp_path_factory.mktemp("ndd_pmor_heal_full")))
        .run(snap)
        .toPandas()
    )
    orig_append, orig_mark = StageCatalog._append_small, StageCatalog.mark_complete

    def crash_after_log(self, table, pdf, schema):
        orig_append(self, table, pdf, schema)
        if table == mor.PATCH_TABLE:
            raise RuntimeError("simulated crash after log append")

    def crash_before_pages_lineage(self, stage, *args, **kwargs):
        if stage == "pages":
            raise RuntimeError("simulated crash before pages lineage")
        return orig_mark(self, stage, *args, **kwargs)

    kills = {
        "delete": (
            ("_append_small", crash_after_log),
            lambda p: p.delete_pages([url_of(11)]),
        ),
        "append": (
            ("mark_complete", crash_before_pages_lineage),
            lambda p: p.append_pages(generate_pages(spark, n + 5, start=n)),
        ),
    }
    for name, ((attr, crash), call) in kills.items():
        pipe = NDDPipeline(spark, CFG, _copy(base, tmp_path_factory, f"ndd_pmor_heal_{name}"))
        monkeypatch.setattr(StageCatalog, attr, crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            call(pipe)
        monkeypatch.undo()
        assert pipe._delta_suspect(), name
        healed = _partition(pipe.run_incremental(snap).toPandas())
        got_pages = {
            (r["url"], r["text"])
            for r in pipe.pages_table().select("url", "text").collect()
        }
        assert got_pages == want_pages, name
        assert pipe.signatures_table().count() == n, name
        assert healed == full, name
        hits = query_top_k(spark, pipe.catalog, CFG, text11, k=5).toPandas()
        assert url_of(11) in set(hits.url), name
        assert not pipe._delta_suspect(), name
