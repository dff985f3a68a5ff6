"""Delta stage-2: append-only incremental pair generation.

Full stage 2 re-processing on every append is correct (the data-aware resume
hashes force it) but wasteful at scale: appending 1% of a 10^12-doc corpus
should not redo the corpus-wide band groupBy. This module computes exactly
the NEW work:

  new exact-dup members  → star edge to the EXISTING group representative
                           (rep stays stable, so the cluster partition is
                           unchanged up to edge choice — transitively
                           equivalent to a full rebuild);
  new unique content     → fresh exact groups among the new docs, then LSH:
                           new reps' bands probe the OLD reps' bands with an
                           equi-join restricted to the affected band keys —
                           a map-side explode + semi-join filter, NO
                           corpus-wide groupBy shuffle (the affected-bucket
                           re-aggregation shuffles only touched rows);
  candidate filtering    → only pairs touching ≥1 new url are verified
                           (old×old pairs were verified in prior runs).

Ceiling semantics on growth: a bucket that crosses ``max_bucket_size``
because of the append is flagged and its members routed to the SimHash
fallback, exactly like the full path — but pairs expanded in EARLIER runs
(when the bucket was under the ceiling) are kept. The delta result is
therefore a superset of the full rebuild's verified pairs in that corner:
recall is ≥ the full rebuild, never below (tests pin cluster-partition
equality in the no-crossing case).

Edits and deletions violate the append-only premise; the pipeline's
changeset core first runs a TARGETED RETRACTION of the edited and deleted
urls (one retraction-log entry per url: drop or rep-substitute their rows
across every governed table, operators/mor.py), then treats edited content
as a fresh append. The changeset comes
from the caller (explicit entry points) or from ``content_diff`` of a
snapshot against the committed pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from near_duplicate_detection_spark.config import NDDConfig
from near_duplicate_detection_spark.operators.lsh import (
    explode_bands,
    flagged_buckets,
    flagged_members,
    pairs_from_buckets,
    simhash_fallback_pairs,
)
from near_duplicate_detection_spark.session import local_frame


def content_diff(snapshot: DataFrame, committed: DataFrame) -> DataFrame:
    """The committed rows a snapshot retracts, both sides keyed by ``url``
    with ``h`` = xxhash64(url, text) (``committed``'s renamed ``h_old``):
    ONE right-outer join keeping the committed urls whose snapshot row is
    missing (deleted: ``h`` NULL) or differs (edited: the snapshot's whole
    row rides along). Callers restrict both sides to the buckets whose
    stats say they drifted, so the join reads only those buckets."""
    return snapshot.join(
        committed.select("url", F.col("h").alias("h_old")), "url", "right"
    ).where(F.col("h").isNull() | (F.col("h") != F.col("h_old")))


def pairs_touching(cands: DataFrame, new_urls: DataFrame) -> DataFrame:
    """Pairs with ≥1 side in new_urls — ONE scan of ``cands``: two broadcast
    left joins flag each side and a disjunctive filter keeps flagged rows.
    (The previous two-semi-join union scanned ``cands`` twice and paid a
    dropDuplicates shuffle to merge the branches — at the stage-3 dissolve
    call site ``cands`` is the corpus-sized pairs ∪ substring_pairs view,
    so the double scan dominated the delta's fixed cost.) Pure filter
    semantics: output multiplicity equals input multiplicity, so callers
    needing distinct output must hand distinct ``cands`` or dedup after
    (the two stage-2/2b sites hand distinct cands; the stage-3 dissolve
    site hands pairs ∪ substring_pairs — internally distinct tables that
    may overlap — and dedups the combined edge union downstream).
    Canonical column order re-selected — equi-joins move keys to the
    front."""
    ua = new_urls.select(
        F.col("url").alias("url_a"), F.lit(True).alias("__ta")
    )
    ub = new_urls.select(
        F.col("url").alias("url_b"), F.lit(True).alias("__tb")
    )
    return (
        cands.join(F.broadcast(ua), "url_a", "left")
        .join(F.broadcast(ub), "url_b", "left")
        .where(F.col("__ta").isNotNull() | F.col("__tb").isNotNull())
        .select("url_a", "url_b")
    )


def delta_exact(
    new_sigs: DataFrame, rep_map: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Exact-dup handling for appended docs.

    rep_map: (fp, rep) — the stage-2 reps table. New docs whose fp matches
    an existing group star-link to the EXISTING rep (stable reps keep the
    cluster partition identical to a full rebuild, which would re-pick
    min(url) and merely re-shape the star). Unmatched fps form fresh groups
    among themselves. → (exact_edges(url_a, url_b, jaccard=1.0),
    new_reps(signature rows — one per fresh fp)).

    Shuffle shape: rep_map is corpus-sized, so a plain left join would
    shuffle the whole reps table on fp for every append. Instead the
    append's fps (broadcast) semi-probe rep_map map-side — an O(corpus)
    READ but zero shuffle — and the append-sized hit set broadcasts back
    onto new_sigs. The broadcast is bounded by the APPEND batch, the same
    contract the stage-3 delta already makes for its endpoint set."""
    new_fps = new_sigs.select("fp").distinct()
    hit_reps = rep_map.join(F.broadcast(new_fps), "fp", "left_semi")
    joined = new_sigs.join(F.broadcast(hit_reps), "fp", "left")
    matched = (
        joined.where(F.col("rep").isNotNull())
        # belt: a url that somehow already IS the rep (partial prior state)
        # must not emit a self-edge
        .where(F.col("rep") != F.col("url"))
        .select(
            F.least("rep", "url").alias("url_a"),
            F.greatest("rep", "url").alias("url_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    fresh = joined.where(F.col("rep").isNull()).drop("rep")
    fresh_rep = fresh.groupBy("fp").agg(F.min("url").alias("rep"))
    fresh_with = fresh.join(fresh_rep, "fp")
    fresh_edges = fresh_with.where(F.col("url") != F.col("rep")).select(
        F.col("rep").alias("url_a"),
        F.col("url").alias("url_b"),
        F.lit(1.0).alias("jaccard"),
    )
    new_reps = fresh_with.where(F.col("url") == F.col("rep")).drop("rep")
    return matched.union(fresh_edges), new_reps


def delta_lsh_candidates(
    old_rep_sigs: DataFrame, new_reps: DataFrame, cfg: NDDConfig
) -> tuple[DataFrame, DataFrame]:
    """LSH candidates involving ≥1 new representative.

    Shuffle shape: the old side is a map-side explode + left-semi filter on
    the affected band keys (no corpus-wide groupBy — the expensive full-
    rebuild shuffle); only the affected buckets re-aggregate. Bucket sizes
    are computed over old+new members, so ceiling flags see the TRUE post-
    append size. → (candidate pairs touching a new url, flagged buckets)."""
    new_bands = explode_bands(new_reps.select("url", "bands"))
    keys = new_bands.select("band_id", "band_hash").distinct()
    # equi-joins move the join keys to the FRONT of the column order —
    # re-select explicitly before every positional union in this function
    # broadcast the append-sized key set: without the hint the semi-join
    # shuffles the corpus-wide band explode on the band key every append
    old_members = (
        explode_bands(old_rep_sigs.select("url", "bands"))
        .join(F.broadcast(keys), ["band_id", "band_hash"], "left_semi")
        .select("url", "band_id", "band_hash")
    )
    members = old_members.union(new_bands.select("url", "band_id", "band_hash"))
    # materialize once: three consumers (pair expansion, flagged keys,
    # flagged members) would otherwise re-run the old-side explode +
    # semi-join per consumer — the same re-execution the full path's bucket
    # checkpoint exists to kill (pipeline.py stage2_pairs)
    buckets = (
        members.groupBy("band_id", "band_hash")
        .agg(F.collect_list("url").alias("urls"))
        .withColumn("bucket_size", F.size("urls"))
        .where(F.col("bucket_size") >= 2)
        .localCheckpoint()
    )
    flagged = flagged_buckets(buckets, cfg)
    all_rep_sigs = old_rep_sigs.select("url", "simhash").unionByName(
        new_reps.select("url", "simhash")
    )
    cands = (
        pairs_from_buckets(buckets, cfg, dedup=False)
        .union(
            simhash_fallback_pairs(
                all_rep_sigs, flagged_members(buckets, cfg), cfg, dedup=False
            )
        )
        .dropDuplicates(["url_a", "url_b"])
    )
    touching = pairs_touching(cands, new_reps.select("url"))
    return touching, flagged


def _driver_union_find(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Min-root union-find with path compression — the CC solver for
    ``cluster_label_delta``'s contraction graphs. Roots are kept
    lexicographically minimal, so the labeling equals
    ``connected_components``' min-label fixpoint exactly."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
    return {n: find(n) for n in parent}


def cluster_label_delta(
    old_clusters: DataFrame, new_edges: DataFrame, max_edges: int
) -> tuple[DataFrame, dict[str, str]] | None:
    """Incremental connected components by cluster contraction.

    Append-only premise: new edges can only MERGE existing clusters (or
    attach new nodes) — never split them. So contract every new edge's
    endpoints to their current cluster labels (endpoints absent from
    ``old_clusters`` are new docs and label themselves), drop the
    self-edges, and solve the resulting label graph — whose size is
    bounded by the number of NEW edges, independent of the corpus-derived
    full edge set. Reference semantics: ``update_index`` touches only
    stale videoids (ndd/server_ndd.py:158-268).

    The min-label invariant makes the contraction exact: every old
    cluster_id IS the min url of its members (connected_components), so the
    contracted CC's min over {old labels ∪ new urls} equals the full
    rebuild's min over all member urls.

    Shuffle shape: the ONLY touch of the corpus-sized clusters table here is
    one map-side semi-join (broadcast endpoint set) to look up endpoint
    labels; the pairs table is never read. The contraction graph is
    collected and solved with the driver union-find — one job instead of
    the distributed CC's checkpointed rounds. A graph of more than
    ``max_edges`` edges is never collected: the function returns None and
    the caller runs the full CC instead. → (node_labels(url, label) over
    every contraction node, a LOCAL relation; the changed labels
    {old_label: new_label} as a driver dict)."""
    endpoints = (
        new_edges.select(F.col("url_a").alias("url"))
        .union(new_edges.select(F.col("url_b").alias("url")))
        .distinct()
    )
    # label lookup: scan clusters once with a BROADCAST semi-join (BuildRight
    # — no corpus shuffle); the result is at most |endpoints| rows
    lab = (
        old_clusters.join(F.broadcast(endpoints), "url", "left_semi")
        .select("url", "cluster_id")
        .localCheckpoint()
    )
    ea = new_edges.join(
        lab.select(F.col("url").alias("url_a"), F.col("cluster_id").alias("la")),
        "url_a",
        "left",
    )
    contracted = (
        ea.join(
            lab.select(
                F.col("url").alias("url_b"), F.col("cluster_id").alias("lb")
            ),
            "url_b",
            "left",
        )
        .select(
            F.coalesce("la", F.col("url_a")).alias("url_a"),
            F.coalesce("lb", F.col("url_b")).alias("url_b"),
        )
        .where(F.col("url_a") != F.col("url_b"))
        .dropDuplicates(["url_a", "url_b"])
        .localCheckpoint()
    )
    if contracted.count() > max_edges:
        return None
    lab_map = _driver_union_find(
        [(r["url_a"], r["url_b"]) for r in contracted.collect()]
    )
    node_labels = local_frame(
        old_clusters.sparkSession,
        list(lab_map.items()),
        "url string, label string",
    )
    return node_labels, {u: l for u, l in lab_map.items() if u != l}


def delta_window_candidates(
    window_index: DataFrame, new_windows: DataFrame, cfg: NDDConfig
) -> tuple[DataFrame, DataFrame]:
    """Stage-2b delta: substring candidates involving ≥1 new doc.

    Mirrors delta_lsh_candidates with the anchored-window hash as the
    bucket key: old members come from the persisted window_index via a
    map-side semi-join on the affected hashes (no corpus-wide re-
    fingerprint), sizes are computed over old+new members so the ceiling
    sees the TRUE post-append multiplicity, and only pairs touching a new
    url survive. Same ceiling-crossing caveat as the LSH delta: pairs
    expanded in earlier runs are kept (recall ≥ full rebuild).
    → (candidate pairs, flagged(win_hash, bucket_size))."""
    keys = new_windows.select("win_hash").distinct()
    # broadcast the append-sized key set: map-side probe of the persisted
    # window index, never a corpus-wide shuffle on win_hash
    old_members = (
        window_index.join(F.broadcast(keys), "win_hash", "left_semi")
        .select("url", "win_hash")
    )
    members = old_members.union(new_windows.select("url", "win_hash"))
    buckets = (
        members.groupBy("win_hash")
        .agg(F.collect_list("url").alias("urls"))
        .withColumn("bucket_size", F.size("urls"))
        .where(F.col("bucket_size") >= 2)
        .localCheckpoint()
    )
    from near_duplicate_detection_spark.operators.lsh import over_ceiling

    flagged = buckets.where(over_ceiling(cfg)).select("win_hash", "bucket_size")
    cands = pairs_from_buckets(buckets, cfg)
    touching = pairs_touching(cands, new_windows.select("url").distinct())
    return touching, flagged
