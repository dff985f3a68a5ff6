"""Config-hash contract: knobs that change the OUTPUT chain into stage
hashes (skew ceilings → stage 2 AND 2b); knobs that only pick the execution
strategy (retraction/remap/fold ceilings) are excluded — changing them
must never invalidate committed state."""

from __future__ import annotations

import pytest

from near_duplicate_detection_spark.config import NDDConfig
from near_duplicate_detection_spark.pipeline import (
    AppendRefusedError,
    NDDPipeline,
)
from near_duplicate_detection_spark.sources.pages import generate_pages

BASE = NDDConfig(num_buckets=4)


def test_skew_ceilings_chain_into_stage2b_hash():
    for knob in ("max_bucket_size", "bucket_pair_ceiling"):
        changed = NDDConfig(num_buckets=4, **{knob: 777})
        assert changed.stage2b_hash() != BASE.stage2b_hash(), knob
        assert changed.stage2_hash() != BASE.stage2_hash(), knob
        # and stage 3 inherits the invalidation through both parents
        assert changed.stage3_hash() != BASE.stage3_hash(), knob


def test_execution_knobs_do_not_touch_stage_hashes():
    changed = NDDConfig(
        num_buckets=4,
        max_retract=1,
        max_remap=1,
        retract_patch_ceiling=0,
        clusters_append_ceiling=1,
        query_collect_ceiling=0,
    )
    assert changed.stage1_hash() == BASE.stage1_hash()
    assert changed.stage2_hash() == BASE.stage2_hash()
    assert changed.stage2b_hash() == BASE.stage2b_hash()
    assert changed.stage3_hash() == BASE.stage3_hash()


def test_execution_knobs_preserve_resume_state(spark, tmp_path):
    """A catalog built under default knobs stays fully resumable under
    different execution knobs: the delta preconditions accept and an
    unchanged snapshot no-ops through the changeset core."""
    base = str(tmp_path)
    NDDPipeline(spark, BASE, base).run(generate_pages(spark, 80))
    tweaked = NDDPipeline(
        spark,
        NDDConfig(num_buckets=4, max_retract=7, max_remap=9),
        base,
    )
    n_pairs = tweaked.catalog.count_rows("pairs")
    assert tweaked._delta_preconditions(True)
    assert len(tweaked.run_incremental(generate_pages(spark, 80)).toPandas()) == 80
    assert tweaked.catalog.count_rows("pairs") == n_pairs
    m = tweaked.catalog.read("metrics").toPandas()
    # no stage was rebuilt: one verified_pairs row, from the base build
    assert len(m[(m.stage == "pairs") & (m.key == "verified_pairs")]) == 1


def test_ceiling_change_invalidates_2b_delta_state(spark, tmp_path):
    """The ADVICE regression: changing bucket_pair_ceiling must not let the
    2b delta early-return stale substring_pairs — the run hash moves."""
    base = str(tmp_path)
    NDDPipeline(spark, BASE, base).run(generate_pages(spark, 80))
    changed = NDDPipeline(
        spark, NDDConfig(num_buckets=4, bucket_pair_ceiling=999), base
    )
    cat = changed.catalog
    assert not cat.completed_partitions(
        "substring_pairs", changed.stage2b_run_hash()
    )
    with pytest.raises(AppendRefusedError):
        changed._delta_preconditions(True)
    # the refused delta heals through the resume path: substring_pairs is
    # recommitted under the new run hash
    assert len(changed.run_incremental(generate_pages(spark, 80)).toPandas()) == 80
    assert cat.completed_partitions(
        "substring_pairs", changed.stage2b_run_hash()
    )
