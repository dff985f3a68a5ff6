"""Partition-pruned serving index for the query path (band_index).

The interactive query path (``query_top_k``) probes the LSH bands: without
an index it explodes the FULL signatures table per request — correct, but a
whole-index scan per query, the one read in the engine whose cost grows with
the corpus instead of the answer. The reference pays the same shape on every
request (one O(N) matmul over the whole feature matrix,
/root/reference/ndd/server_ndd.py:271-306); at the 10^12-doc contract a
serving system cannot.

``band_index`` is the materialized probe table:

    (url, band_id, band_hash)   partitioned by  pt = xxhash64(band_hash) % P

A single query carries ``lsh_bands`` driver-known band hashes, so the probe
becomes a literal ``pt IN (...)`` partition filter (directory pruning — at
most ``lsh_bands`` of P partitions read) plus a ``band_hash IN (...)``
predicate pushed to parquet row groups (rows are sorted by ``band_hash``
within each partition, so min/max statistics skip non-matching groups). The
scan cost is now proportional to the CANDIDATE buckets, not the corpus:
P scales with the corpus (thousands at 10^12 docs) while the query always
reads ≤ lsh_bands directories.

Freshness is validated, never assumed (the materialized-view-with-snapshot
pattern): the build stamps a sidecar with a signature of the SOURCE state
(the signatures table's parquet file listing + the retract_patch
log's), and the query path uses the index only when the current source
state matches the stamp — any append, delete, update, or rebuild flips the
signature and queries fall back to the exact full-view probe until
``build_band_index`` runs again. Stale reads are therefore impossible by
construction; the index is pure derived state and is deliberately OUTSIDE
the lineage/stage-hash system (dropping it changes no result).

The BATCH query path (``query_top_k_batch``) keeps the plain equi-join
against the signatures view: its band hashes live in a distributed table
(not driver literals), and a large query batch hits every partition anyway —
the equi-join IS the right plan at that shape.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from near_duplicate_detection_spark.operators import mor
from near_duplicate_detection_spark.operators.lsh import explode_bands
from near_duplicate_detection_spark.session import local_frame

BAND_INDEX = "band_index"
STAMP_TABLE = "band_index_stamp"
# source tables whose physical state the stamp covers: the signatures rows
# themselves plus the retraction log that governs their view
_SOURCES = ("signatures", mor.PATCH_TABLE)


def source_signature(catalog) -> str:
    """Hash of the probe sources' physical state (file listing: name, size,
    mtime per parquet file — directory walk only, no footer reads)."""
    parts = []
    for t in _SOURCES:
        p = catalog.path(t)
        parts.append(repr(mor._dir_sig(p)) if os.path.isdir(p) else "absent")
    return hashlib.sha256("|".join(parts).encode("utf-8")).hexdigest()[:16]


def build_band_index(catalog, cfg) -> None:
    """Materialize ``band_index`` from the CURRENT log-resolved
    signatures view and stamp it against the current source state.

    One job: explode (map-side), one shuffle into P partitions, sorted by
    ``band_hash`` within each so probe literals prune parquet row groups.
    The log is resolved AT BUILD TIME, so index rows need no era column;
    any later retraction invalidates the stamp instead."""
    import shutil

    from near_duplicate_detection_spark.pipeline import signatures_view

    P = cfg.band_index_partitions
    # crash protocol: drop the stamp FIRST (readers fall back from here on),
    # then the old index (a dynamic-partition overwrite with a smaller P
    # would otherwise leave stale pt= dirs), then write index → stamp last.
    # A kill at any point leaves a missing/mismatched stamp — never a
    # falsely-fresh index.
    shutil.rmtree(catalog.path(STAMP_TABLE), ignore_errors=True)
    shutil.rmtree(catalog.path(BAND_INDEX), ignore_errors=True)
    stamp = source_signature(catalog)  # BEFORE the write: racing commits
    # between here and the stamp write can only make the stamp stale
    # (fallback), never falsely fresh
    idx = (
        explode_bands(signatures_view(catalog))
        .withColumn("pt", F.pmod(F.xxhash64("band_hash"), F.lit(P)))
        .repartition("pt")
        .sortWithinPartitions("band_hash")
    )
    catalog.write(idx, BAND_INDEX, partition_by=["pt"])
    catalog.write_small_local(
        STAMP_TABLE, [(stamp, str(P))], ["src_sig", "partitions"]
    )


def fresh_band_index(catalog) -> tuple[DataFrame, int] | None:
    """The index DataFrame + its partition count, or None when absent or
    stale (source state no longer matches the stamp)."""
    if not (catalog.exists(BAND_INDEX) and catalog.exists(STAMP_TABLE)):
        return None
    rows = catalog.read_small_rows(STAMP_TABLE, ["src_sig", "partitions"])
    if len(rows) != 1 or rows[0][0] != source_signature(catalog):
        return None
    return catalog.read(BAND_INDEX), int(rows[0][1])


def probe_urls(
    spark: SparkSession, catalog, q_bands: list[tuple[int, int]]
) -> DataFrame:
    """Distinct candidate urls for one query's driver-known band hashes.

    Uses the fresh band_index when available — ``pt IN`` directory pruning +
    ``band_hash IN`` row-group pruning, then the exact (band_id, band_hash)
    broadcast join — and falls back to exploding the full signatures view
    (the always-correct path) otherwise."""
    from near_duplicate_detection_spark.pipeline import signatures_view

    bands_df = local_frame(spark, q_bands, "band_id int, band_hash bigint")
    fresh = fresh_band_index(catalog)
    if fresh is None:
        exploded = explode_bands(signatures_view(catalog))
    else:
        idx, P = fresh
        hashes = sorted({h for _i, h in q_bands})
        pts = sorted(set(_pt_values(spark, hashes, P)))
        exploded = idx.where(
            F.col("pt").isin(pts) & F.col("band_hash").isin(hashes)
        )
    return (
        exploded.join(F.broadcast(bands_df), ["band_id", "band_hash"])
        .select("url")
        .distinct()
    )


def _pt_values(spark: SparkSession, hashes: list[int], P: int) -> list[int]:
    """xxhash64(h) % P for driver-known hashes — computed through Spark's
    own xxhash64 (one LocalRelation expression evaluation, no job) so the
    literals match the values written by ``build_band_index`` exactly."""
    if not hashes:
        return []
    df = local_frame(spark, [(h,) for h in hashes], "band_hash bigint")
    rows = df.select(
        F.pmod(F.xxhash64("band_hash"), F.lit(P)).alias("pt")
    ).collect()
    return [r.pt for r in rows]
