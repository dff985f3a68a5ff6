"""query_top_k freshness contract: a query racing an in-flight incremental
build (pairs/signatures committed, clusters not yet advanced) must surface
the appended docs individually — each in its own dedup group via
coalesce(cluster_id, url) — and keep committed docs' grouping intact.
Contract documented on query_top_k (pipeline.py)."""

from __future__ import annotations

import pytest

from near_duplicate_detection_spark.config import NDDConfig
from near_duplicate_detection_spark.pipeline import NDDPipeline, query_top_k
from near_duplicate_detection_spark.sources.pages import (
    doc_tokens,
    generate_pages,
    url_of,
)

CFG = NDDConfig(num_buckets=4)
# 300→310 cuts the planted structures: 301 exact-dups old 300; 302 is a
# near-dup base whose copies 303/304 are ALL in the appended (unclustered)
# slice — the collapse hazard the coalesce rule exists for
N1, N2 = 301, 310


@pytest.fixture(scope="module")
def mid_incremental(spark, tmp_path_factory):
    """Catalog frozen mid-incremental: stages 0-2b advanced to N2, stage 3
    (clusters) still at the N1 commit."""
    base = str(tmp_path_factory.mktemp("ndd_fresh"))
    pipe = NDDPipeline(spark, CFG, base)
    pipe.run(generate_pages(spark, N1))
    # the changeset core with its stage-3 step stubbed out (instance
    # attributes shadow the methods; deleting them restores both)
    pipe.stage3_clusters_delta = lambda *change: True
    pipe.stage3_clusters = lambda resume=True: None
    pipe.run_incremental(generate_pages(spark, N2))
    del pipe.stage3_clusters_delta, pipe.stage3_clusters
    m = pipe.catalog.read("metrics").toPandas()
    # both deltas ran: stage 2 over every appended doc, 2b over its new reps
    new = m[m.key == "delta_new_docs"]
    assert (new[new.stage == "pairs"].value == N2 - N1).any()
    assert (new[new.stage == "substring_pairs"].value > 0).any()
    # deliberately NO stage 3: clusters is the stale N1 table
    assert pipe.catalog.count_rows("clusters") == N1
    return pipe


def test_appended_docs_surface_individually(spark, mid_incremental):
    pipe = mid_incremental
    # querying an appended doc's exact text finds it at jaccard 1.0
    res = query_top_k(
        spark, pipe.catalog, CFG, " ".join(doc_tokens(302)[0]), k=10
    ).toPandas()
    assert res.url.iloc[0] == url_of(302)
    assert res.jaccard.iloc[0] == 1.0
    # its near-dup copies 303/304 are ALSO appended (NULL cluster_id): the
    # own-group rule must list them as separate hits, not collapse all
    # unclustered candidates into one group that keeps a single row
    hits = set(res.url)
    assert {url_of(303), url_of(304)} <= hits
    assert res.cluster_id.isna().sum() >= 3  # genuinely mid-incremental


def test_committed_docs_keep_their_grouping(spark, mid_incremental):
    pipe = mid_incremental
    # doc 282's near-dup group (282/283/284) was committed at N1: exactly
    # ONE hit for the whole group survives the per-cluster keep-first
    res = query_top_k(
        spark, pipe.catalog, CFG, " ".join(doc_tokens(282)[0]), k=10
    ).toPandas()
    group = {url_of(282), url_of(283), url_of(284)}
    assert len(group & set(res.url)) == 1
    assert res.jaccard.iloc[0] == 1.0


def test_after_stage3_results_consistent(spark, mid_incremental):
    """Finishing the build collapses the appended near-dup group to one
    hit — the mid-incremental read was the same results, merely ungrouped."""
    pipe = mid_incremental
    pipe.stage3_clusters()
    res = query_top_k(
        spark, pipe.catalog, CFG, " ".join(doc_tokens(302)[0]), k=10
    ).toPandas()
    group = {url_of(302), url_of(303), url_of(304)}
    assert len(group & set(res.url)) == 1
    assert res.cluster_id.notna().all()
