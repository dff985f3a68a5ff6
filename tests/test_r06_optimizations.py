"""Focused tests for the round-6 optimization changes to operator internals:

1. stage2_pairs' conditional SimHash-fallback routing — the fallback union
   is now gated on the flagged-bucket count; it must still fire (and link
   the skewed cluster) when a bucket trips the ceiling.
2. cold-build ingest — the committed pages lineage must equal the input's
   per-bucket aggregation (``_input_stats``), every bucket must carry a
   lineage row, and the committed state must satisfy the data-aware resume
   predicate (re-run is a no-op on the same snapshot).
3. assign_to_centroids' SQL-literal rendering — the fast path must refuse
   unrenderable ids (falling back to the column-object builder) and both
   paths must assign identically.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from near_duplicate_detection_spark.config import NDDConfig
from near_duplicate_detection_spark.pipeline import NDDPipeline


def _skewed_pages(spark, n_skew=30, n_other=10):
    """Near-identical docs (shared long boilerplate + one unique token) that
    land in shared LSH band buckets WITHOUT collapsing to one exact group."""
    boiler = " ".join(f"boil{j}" for j in range(200))
    rows = [
        (f"https://hot.example.com/p/{i:04d}", f"{boiler} uniq{i}")
        for i in range(n_skew)
    ] + [
        (
            f"https://site-{i}.example.org/p/{i:04d}",
            " ".join(f"x{i}y{j}" for j in range(150)),
        )
        for i in range(n_other)
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "text"])
    )


def test_stage2_conditional_fallback_fires_when_flagged(spark, tmp_path):
    """With a ceiling low enough that the boilerplate cluster's band buckets
    flag, the (now conditional) SimHash fallback must still run: the
    flagged metric is non-zero AND the skewed docs end up pair-linked —
    i.e. clustered together — exactly as the unconditional-union shape
    did."""
    cfg = NDDConfig(max_bucket_size=5, num_buckets=4)
    base = str(tmp_path / "cat")
    pipe = NDDPipeline(spark, cfg, base)
    pipe.stage0_ingest(_skewed_pages(spark), resume=False)
    pipe.stage1_signatures(resume=False)
    pipe.stage2_pairs(resume=False)
    m = {
        (r["stage"], r["key"]): r["value"]
        for r in pipe.catalog.metrics().collect()
    }
    assert m[("pairs", "flagged_buckets")] > 0, "ceiling did not trip"
    pairs = pipe.catalog.read("pairs").toPandas()
    skew_urls = {f"https://hot.example.com/p/{i:04d}" for i in range(30)}
    linked = set(pairs.url_a) | set(pairs.url_b)
    # every skewed doc is reachable through the verified pair set
    assert skew_urls <= linked
    # and the full build clusters them together
    pipe.stage2b_substring(resume=False)
    pipe.stage3_clusters(resume=False)
    cl = pipe.clusters_view().toPandas()
    skew_labels = set(cl[cl.url.isin(skew_urls)].cluster_id)
    assert len(skew_labels) == 1


def test_stage2_no_fallback_when_nothing_flagged(spark, tmp_path):
    """Default ceilings on the same input: nothing flags, the fallback is
    skipped, and the near-dup cluster still links through normal LSH pair
    expansion (guards against the gate accidentally dropping recall)."""
    cfg = NDDConfig(num_buckets=4)
    base = str(tmp_path / "cat")
    pipe = NDDPipeline(spark, cfg, base)
    pipe.stage0_ingest(_skewed_pages(spark), resume=False)
    pipe.stage1_signatures(resume=False)
    pipe.stage2_pairs(resume=False)
    m = {
        (r["stage"], r["key"]): r["value"]
        for r in pipe.catalog.metrics().collect()
    }
    assert m[("pairs", "flagged_buckets")] == 0
    pairs = pipe.catalog.read("pairs").toPandas()
    skew_urls = {f"https://hot.example.com/p/{i:04d}" for i in range(30)}
    assert skew_urls <= (set(pairs.url_a) | set(pairs.url_b))


def test_cold_ingest_lineage_matches_input_stats(spark, tmp_path):
    """A cold build's committed lineage stats must equal the input's
    per-bucket aggregation (the algebra every later resume decision rests
    on), and a same-snapshot re-run must be a data-aware no-op (no file
    churn)."""
    cfg = NDDConfig(num_buckets=4)
    base = str(tmp_path / "cat")
    pipe = NDDPipeline(spark, cfg, base)
    pages = _skewed_pages(spark)
    pipe.stage0_ingest(pages, resume=False)  # cold: every bucket pending
    committed = pipe.catalog.latest_partition_stats(
        "pages", cfg.stage1_hash()
    )
    direct = pipe._input_stats(pages)
    assert {b: s for b, s in committed.items() if s != (0, 0)} == direct
    # zero-row buckets are committed as (0, 0)
    assert set(committed) == set(range(cfg.num_buckets))

    def file_set():
        out = []
        for root, _dirs, files in os.walk(pipe.catalog.path("pages")):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out.append((p, os.path.getmtime(p)))
        return sorted(out)

    before = file_set()
    pipe.stage0_ingest(pages, resume=True)  # data-aware: nothing pending
    assert file_set() == before


def test_literal_sql_path_and_fallback_assign_identically(spark):
    from near_duplicate_detection_spark.operators.similarity import (
        _literal_struct_sql,
        assign_to_centroids,
    )

    vecs = [
        (i, [float(i % 7), float((i * 3) % 5), float(i % 2)])
        for i in range(40)
    ]
    df = spark.createDataFrame(vecs, "vec_id int, vec array<double>")
    cents_int = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [6.0, 4.0, 1.0]), (2, [3.0, 2.0, 0.5])],
        "centroid_id int, cvec array<double>",
    )
    # ids a SQL literal cannot render faithfully → fast path must refuse
    cents_odd = spark.createDataFrame(
        [("a'b", [0.0, 0.0, 0.0]), ("c d", [6.0, 4.0, 1.0]),
         ("e;f", [3.0, 2.0, 0.5])],
        "centroid_id string, cvec array<double>",
    )
    assert _literal_struct_sql(
        cents_odd.collect(), "centroid_id", "cvec"
    ) is None
    got_sql = {
        r["vec_id"]: r["cell"]
        for r in assign_to_centroids(
            df, cents_int, out_col="cell"
        ).collect()
    }
    got_fb = {
        r["vec_id"]: r["cell"]
        for r in assign_to_centroids(df, cents_odd, out_col="cell").collect()
    }
    id_map = {0: "a'b", 1: "c d", 2: "e;f"}  # same vectors, renamed ids...
    # ...except string order: ids sort differently, but assignment is by
    # DISTANCE with id tie-break; these centroids are distance-distinct for
    # every input vector, so the mapping must agree exactly
    assert {v: id_map[c] for v, c in got_sql.items()} == got_fb


def test_literal_sql_double_rendering_roundtrips(spark):
    """repr()-rendered doubles must parse back to the identical IEEE-754
    value through Spark SQL (the exactness claim the fast path rests on)."""
    import math
    import random

    rng = random.Random(7)
    vals = [rng.uniform(-1e6, 1e6) for _ in range(50)] + [
        1e-300, -1e300, 0.1 + 0.2, math.pi, 2.0**-52
    ]
    exprs = ", ".join(repr(float(v)) + "D" for v in vals)
    got = spark.sql(f"SELECT array({exprs}) AS a").collect()[0]["a"]
    assert all(g == v for g, v in zip(got, vals))


def test_mixed_edit_delete_append_single_snapshot_matches_full(
    spark, tmp_path_factory
):
    """One snapshot diff carries every change kind into the changeset
    core: the retraction covers edited ∪ deleted urls, the append covers
    appended ∪ edited rows. Pin its full generality in ONE snapshot: an
    edited doc (0020 — an exact-dup REP),
    a deleted doc (0021 — that rep's only dup member, so the surviving-
    member substitution finds nobody and must drop), and two appended docs
    (0100/0101 — an exact-dup pair by generator role). The delta must
    retract exactly 2 urls, re-enter exactly 3 (two appends + the edit),
    and the clusters must equal a from-scratch rebuild."""
    from pyspark.sql import functions as F

    from near_duplicate_detection_spark.sources.pages import generate_pages

    cfg = NDDConfig(num_buckets=4)
    base = str(tmp_path_factory.mktemp("ndd_mixed_r6"))
    pipe = NDDPipeline(spark, cfg, base)
    pipe.run(generate_pages(spark, 100))

    snapshot = (
        generate_pages(spark, 102)
        .withColumn(
            "text",
            F.when(
                F.col("url").endswith("0020"),
                F.concat(F.col("text"), F.lit(" mixed edited tail")),
            ).otherwise(F.col("text")),
        )
        .where(~F.col("url").endswith("0021"))
    )
    clusters = pipe.run_incremental(snapshot).toPandas()
    assert len(clusters) == 101  # 100 - 1 deleted + 2 appended

    m = pipe.catalog.read("metrics").toPandas()
    ret = m[(m.stage == "pairs") & (m.key == "retracted_docs")]
    assert len(ret) == 1 and int(ret.value.iloc[0]) == 2
    new = m[(m.stage == "pairs") & (m.key == "delta_new_docs")]
    assert len(new) == 1 and int(new.value.iloc[0]) == 3

    def _partition(pdf):
        return {
            frozenset(grp.url) for _, grp in pdf.groupby("cluster_id")
        }

    full = (
        NDDPipeline(
            spark, cfg, str(tmp_path_factory.mktemp("ndd_mixed_r6_full"))
        )
        .run(snapshot)
        .toPandas()
    )
    assert _partition(clusters) == _partition(full)


def test_inferred_path_never_recomputes_input_stats(
    spark, tmp_path_factory, monkeypatch
):
    """run_incremental's edit path runs the snapshot diff and the
    changeset core: the probe's per-bucket stats are the only snapshot
    aggregation — the stage-0 _input_stats scan (resume path only) never
    runs, and neither does the full stage-2 rebuild. Spy-pinned so a
    refactor that silently reintroduces the second pass fails here."""
    from pyspark.sql import functions as F

    from near_duplicate_detection_spark.sources.pages import generate_pages

    cfg = NDDConfig(num_buckets=4)
    base = str(tmp_path_factory.mktemp("ndd_inferred_core"))
    pipe = NDDPipeline(spark, cfg, base)
    pipe.run(generate_pages(spark, 100))

    calls = {"stats": 0}
    orig = NDDPipeline._input_stats

    def spy(self, pages):
        calls["stats"] += 1
        return orig(self, pages)

    monkeypatch.setattr(NDDPipeline, "_input_stats", spy)

    def no_full_stage2(*a, **k):  # pragma: no cover - failure mode
        raise AssertionError("full stage-2 rebuild ran instead of the core")

    monkeypatch.setattr(NDDPipeline, "stage2_pairs", no_full_stage2)
    snapshot = generate_pages(spark, 100).withColumn(
        "text",
        F.when(
            F.col("url").endswith("0020"),
            F.concat(F.col("text"), F.lit(" hint edited")),
        ).otherwise(F.col("text")),
    )
    clusters = pipe.run_incremental(snapshot).toPandas()
    assert len(clusters) == 100
    assert calls["stats"] == 0, (
        "inferred path ran the stage-0 _input_stats scan"
    )
