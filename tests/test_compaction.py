"""Compaction (Iceberg rewrite_data_files + merge-on-read patch fold analog).

The delta paths deliberately trade physical layout for O(change) commits:
each merge-on-read clusters commit appends one file (plus a label-patch
sidecar), and each bucket-table delta adds one file per touched bucket.
``compact()`` is the maintenance pass that folds and rewrites — pure
physical reorganization, so every view must be row-identical and every
lineage row untouched. ``clusters_append_ceiling`` is the self-maintaining
trigger: after that many consecutive append-only commits the NEXT append
folds inline (an execution knob — never part of a stage hash)."""

from __future__ import annotations

import pytest

from near_duplicate_detection_spark.config import NDDConfig
from near_duplicate_detection_spark.pipeline import (
    AppendRefusedError,
    NDDPipeline,
)
from near_duplicate_detection_spark.sources.pages import generate_pages

CFG = NDDConfig(num_buckets=4)


def _batch(spark, lo: int, hi: int):
    return generate_pages(spark, hi, start=lo)


def _clusters_pdf(pipe):
    return (
        pipe.clusters_view()
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )


def _partition(pdf):
    return {frozenset(g.url) for _, g in pdf.groupby("cluster_id")}


def test_compact_folds_patch_and_defragments(spark, tmp_path):
    base = str(tmp_path)
    pipe = NDDPipeline(spark, CFG, base)
    pipe.run(generate_pages(spark, 200))
    pipe.append_pages(_batch(spark, 200, 260))
    pipe.append_pages(_batch(spark, 260, 320))
    cat = pipe.catalog
    assert pipe._append_era() == 2
    assert cat.file_count("clusters") >= 3  # base write + 2 MOR appends
    assert cat.fragmented_partitions("pages")  # appends fragmented buckets
    before = _clusters_pdf(pipe)
    lineage_before = cat.lineage().toPandas()

    res = pipe.compact()
    assert set(res) >= {"clusters", "pages", "signatures"}
    # every bucket back to one file; clusters rebased
    assert cat.fragmented_partitions("pages") == []
    assert cat.fragmented_partitions("signatures") == []
    assert not cat.exists("cluster_remap")
    assert pipe._append_era() == 0
    # pure physical reorganization: view identical, lineage untouched
    assert _clusters_pdf(pipe).equals(before)
    assert cat.lineage().toPandas().equals(lineage_before)
    # idempotent: nothing left to do
    assert pipe.compact() == {}
    # resume still a no-op and the delta path still accepts
    pipe.run_incremental(generate_pages(spark, 320))  # no drift → no-op
    assert _clusters_pdf(pipe).equals(before)
    out = pipe.append_pages(_batch(spark, 320, 360))
    assert out.count() == 360


def test_compact_equals_full_rebuild(spark, tmp_path):
    inc = NDDPipeline(spark, CFG, str(tmp_path / "inc"))
    inc.run(generate_pages(spark, 200))
    inc.append_pages(_batch(spark, 200, 300))
    inc.compact()
    full = NDDPipeline(spark, CFG, str(tmp_path / "full"))
    full.run(generate_pages(spark, 300))
    a = _clusters_pdf(inc)
    b = _clusters_pdf(full)
    assert a.equals(b)


def test_append_era_ceiling_folds_inline(spark, tmp_path):
    """Every delta commits merge-on-read and then folds through the one
    clusters rewrite when a trigger is crossed: the append era reaching
    ``clusters_append_ceiling``, or the stored tombstones (or patch)
    exceeding ``max_remap``."""
    from near_duplicate_detection_spark.sources.pages import url_of

    cfg = NDDConfig(num_buckets=4, clusters_append_ceiling=1)
    pipe = NDDPipeline(spark, cfg, str(tmp_path / "cat"))
    pipe.run(generate_pages(spark, 200))
    pipe.append_pages(_batch(spark, 200, 240))
    assert pipe._append_era() == 1  # first append: merge-on-read commit
    assert pipe.catalog.exists("cluster_remap")
    pipe.append_pages(_batch(spark, 240, 280))
    # second append reached the ceiling: committed, then folded + re-based
    cat = pipe.catalog
    assert pipe._append_era() == 0
    assert not cat.exists("cluster_remap")
    m = cat.metrics().toPandas()
    folds = m[(m.stage == "clusters") & (m.key == "clusters_fold")]
    # commit order: the first append commits merge-on-read, the second folds
    assert folds.sort_values("completed_at").value.tolist() == [0, 1]
    full = NDDPipeline(spark, cfg, str(tmp_path / "full"))
    want = _partition(full.run(generate_pages(spark, 280)).toPandas())
    assert _partition(_clusters_pdf(pipe)) == want

    # a delete of a singleton dissolves nothing and merges nothing, so only
    # its one tombstone can trip a fold — over max_remap=0 it does
    gone = url_of(10)
    assert _clusters_pdf(pipe).query("cluster_id == @gone").shape[0] == 1
    tight = NDDPipeline(
        spark,
        NDDConfig(num_buckets=4, clusters_append_ceiling=1, max_remap=0),
        str(tmp_path / "cat"),
    )
    tight.delete_pages([gone])
    assert tight._append_era() == 0
    assert not cat.exists("cluster_tombstones")
    assert not cat.exists("cluster_remap")
    m = cat.metrics().toPandas()
    folds = m[(m.stage == "clusters") & (m.key == "clusters_fold")]
    assert folds.sort_values("completed_at").value.tolist() == [0, 1, 1]
    assert _partition(_clusters_pdf(tight)) == want - {frozenset([gone])}
    assert not tight._delta_suspect()


def test_append_ceiling_is_execution_knob_not_semantics(spark, tmp_path):
    """Changing the ceiling never invalidates committed state (same doctrine
    as max_retract/max_remap)."""
    assert (
        NDDConfig(num_buckets=4, clusters_append_ceiling=1).stage3_hash()
        == CFG.stage3_hash()
    )
    base = str(tmp_path)
    NDDPipeline(spark, CFG, base).run(generate_pages(spark, 80))
    tweaked = NDDPipeline(
        spark, NDDConfig(num_buckets=4, clusters_append_ceiling=1), base
    )
    assert tweaked._delta_preconditions()  # committed state trusted
    before = _clusters_pdf(tweaked)
    n_lineage = tweaked.catalog.count_rows("lineage")
    tweaked.run_incremental(generate_pages(spark, 80))  # no drift → no-op
    assert tweaked.catalog.count_rows("lineage") == n_lineage
    assert _clusters_pdf(tweaked).equals(before)


def test_compact_refuses_mid_flight(spark, tmp_path):
    pipe = NDDPipeline(spark, CFG, str(tmp_path))
    pipe.run(generate_pages(spark, 80))
    pipe._set_marker("delta.inflight")
    with pytest.raises(AppendRefusedError):
        pipe.compact()


def test_crash_mid_swap_leaves_marker_and_heals(spark, tmp_path, monkeypatch):
    """The fold a stage-3 delta takes at the append-era ceiling (the one
    clusters rewrite, after the merge-on-read commit) wipes the
    cluster_remap sidecar BEFORE the dir rename. A crash inside that window
    must leave the delta.inflight marker up — without it, the old clusters
    table survives with its patch gone, and the next delta would commit
    unpatched labels or drop the appended docs with no error anywhere.
    Marker up ⇒ every delta entry refuses; the full rebuild heals to
    exactly the from-scratch result."""
    import os as _os

    cfg = NDDConfig(num_buckets=4, clusters_append_ceiling=0)  # always fold
    pipe = NDDPipeline(spark, cfg, str(tmp_path / "cat"))
    pipe.run(generate_pages(spark, 200))

    real_rename = _os.rename

    def crashing_rename(src, dst):
        if dst.endswith("clusters"):
            raise OSError("simulated crash at the clusters swap")
        return real_rename(src, dst)

    # the pipeline does a function-level `import os`, so patch the os
    # module attribute itself (path-predicated: only the clusters swap dies)
    monkeypatch.setattr(_os, "rename", crashing_rename)
    with pytest.raises(OSError, match="simulated crash"):
        pipe.append_pages(_batch(spark, 200, 240))
    monkeypatch.undo()

    assert pipe._delta_suspect()  # the marker survived the crash
    with pytest.raises(AppendRefusedError, match="crash marker"):
        pipe.append_pages(_batch(spark, 240, 280))
    healed = (
        pipe.run_incremental(generate_pages(spark, 240))
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    assert not pipe._delta_suspect()
    full = (
        NDDPipeline(spark, cfg, str(tmp_path / "full"))
        .run(generate_pages(spark, 240))
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    grp = lambda pdf: {  # noqa: E731
        frozenset(g.url) for _, g in pdf.groupby("cluster_id")
    }
    assert grp(healed) == grp(full)
