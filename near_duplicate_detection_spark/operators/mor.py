"""Merge-on-read retraction: era-tagged tables + one append-only retraction
log.

Rewriting every table a delete or edit touches is O(change) in COMPUTE but
O(corpus) in I/O: the two bucket tables (pages, signatures) and the four
stage-2/2b tables (reps, pairs, window_index, substring_pairs) would each
be rewritten per changeset. At the 10^12-doc contract that write volume
dominates any delete/edit. This module is the
position-delete analog (Iceberg v2 merge-on-read): each changeset that
deletes or updates urls appends ONE driver-written file to the
``retract_patch`` log, holding its raw mapping at its one era

    (url, new_url, era)      -- new_url NULL = tombstone, else relabel

and every reader resolves the log through a broadcast join. The stored
files are never rewritten; physical rows are reclaimed later by the one
fold routine (``NDDPipeline._fold``), run by ``compact()`` or inline when
the log crosses ``cfg.retract_patch_ceiling`` — the Iceberg
MOR-plus-maintenance pattern, same shape as the stage-3 ``cluster_remap``
sidecar.

Era semantics — why a plain url keyset is NOT enough: an edited url re-enters
the corpus under the SAME url string, so a url-level tombstone would kill the
re-appended rows too. Every governed table therefore carries an `era` column:
rows are stamped with the catalog's retraction-era counter at write time, and
a log entry with era R governs exactly the rows with `row.era < R` (rows
that physically existed when the retraction committed). The counter bumps
once per changeset with deletes or updates, so rows appended after it carry
era >= R and pass through untouched. Per url the log may hold several
entries (retract -> re-add -> retract again); the governing entry for a row
is the EARLIEST entry with `entry.era > row.era` — the first retraction that
happened after the row was written. The bucket tables only drop governed
rows (a row dies iff some entry is newer than it); the stage tables relabel
a retracted representative's rows onto its replacement.

Transitive closure: the stored entries are composed at READ time
(``patch_agg`` replays ``compose_patch`` over the entries in era order) —
when url B (a prior retraction's replacement) is itself retracted with
replacement C, the entry (X -> B) resolves to (X -> C) with its ORIGINAL
era (X's inherited rows logically carried B's identity from that era on,
so B's retraction governs them). Composition is always content-safe: an
entry only ever points at a url that was a live member of the same
exact-content fingerprint group when the entry was created, and any later
retraction of that target composes over it — the resolved target is
therefore always live, so one broadcast join pass resolves every row.

Reference semantics: ``update_index`` drops a vanished video's index entries
without rebuilding the index (ndd/server_ndd.py:246-261); the engine
generalizes that to a versioned-table delete that also never rewrites the
index storage.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from near_duplicate_detection_spark.session import local_frame

PATCH_TABLE = "retract_patch"
# the stage tables whose readers resolve the log (all four carry an `era`
# column); the bucket tables pages/signatures resolve it drop-only
URL_RELABEL_TABLES = ("reps", "window_index")
PAIR_TABLES = ("pairs", "substring_pairs")
GOVERNED_TABLES = URL_RELABEL_TABLES + PAIR_TABLES

# sidecar → broadcast-ready LocalRelation cache, keyed by (session, catalog
# dir, file signature). Sidecars are ceiling-bounded, so they are read
# driver-side (pyarrow) and shipped as Arrow-built LocalRelations: the
# broadcast build then runs entirely JVM-driver-side — no file-scan job, no
# aggregation shuffle, and no Python worker launch PER VIEW MATERIALIZATION
# (a Spark read+groupBy in the view plan re-ran as 1-2 jobs inside every
# consumer job — measured ~15 extra jobs on one stage-3 delta at 40k).
_SIDECAR_CACHE: dict = {}


def _dir_sig(path: str) -> tuple:
    sig = []
    for r, _d, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(r, f))
                sig.append((f, st.st_size, st.st_mtime_ns))
    return tuple(sig)


def sidecar_local_df(catalog, table: str, build) -> DataFrame | None:
    """Cached LocalRelation for a ceiling-bounded sidecar table. ``build``
    maps the driver-side rows to ``local_frame``'s (rows, DDL schema).
    Returns None when the table doesn't exist. Cache hits key on the parquet
    file listing (name, size, mtime), so any rewrite invalidates."""
    if not catalog.exists(table):
        return None
    key = (
        id(catalog.spark),
        catalog.path(table),
        _dir_sig(catalog.path(table)),
    )
    hit = _SIDECAR_CACHE.get(key[:2])
    if hit is not None and hit[0] == key:
        return hit[1]
    df = local_frame(catalog.spark, *build(catalog))
    _SIDECAR_CACHE[key[:2]] = (key, df)
    return df


def patch_agg(catalog) -> DataFrame | None:
    """The retraction log as a broadcast-ready per-url LocalRelation:
    (url, __entries: array<struct<e: era, nu: new_url>>), entries composed
    (``compose_patch`` replayed over the stored mappings in era order) and
    sorted by era ascending so `get(filter(...), 0)` picks the earliest
    governing entry. None when no log exists (readers skip the join
    entirely)."""

    def build(cat):
        by_era: dict[int, dict] = {}
        rows = cat.read_small_rows(PATCH_TABLE, ["url", "new_url", "era"])
        for url, nu, e in rows:
            by_era.setdefault(int(e), {})[url] = nu
        composed: list = []
        for e in sorted(by_era):
            composed = compose_patch(composed, by_era[e], e)
        agg: dict[str, list] = {}
        for url, nu, e in composed:
            agg.setdefault(url, []).append({"e": e, "nu": nu})
        rows = [(u, sorted(v, key=lambda x: x["e"])) for u, v in agg.items()]
        return rows, "url string, __entries array<struct<e: bigint, nu: string>>"

    return sidecar_local_df(catalog, PATCH_TABLE, build)


def tombstone_agg(catalog) -> DataFrame | None:
    """The stage-3 ``cluster_tombstones`` sidecar as a broadcast-ready
    LocalRelation: (url, __tomb_era = newest tombstone era per url). The
    newest suffices — a tombstone kills every row alive at its commit, so
    exemption from the newest entry implies exemption from every older
    one."""

    def build(cat):
        agg: dict[str, int] = {}
        rows = cat.read_small_rows("cluster_tombstones", ["url", "era"])
        for url, e in rows:
            agg[url] = max(agg.get(url, 0), int(e))
        return list(agg.items()), "url string, __tomb_era bigint"

    return sidecar_local_df(catalog, "cluster_tombstones", build)


def apply_tombstones(df: DataFrame, tomb: DataFrame) -> DataFrame:
    """Resolve ``tombstone_agg`` over an era-stamped table: a row
    survives iff no tombstone governs it (row.era >= newest tombstone era —
    rows written at or after the tombstone commit are re-adds). One
    broadcast join against a cached LocalRelation — map-side, zero scan
    jobs, zero wide shuffles."""
    cols = df.columns
    return (
        df.join(F.broadcast(tomb), "url", "left")
        .where(
            F.col("__tomb_era").isNull()
            | (F.col("era") >= F.col("__tomb_era"))
        )
        .select(*cols)
    )


def remap_df(catalog) -> DataFrame | None:
    """The stage-3 ``cluster_remap`` sidecar (old_label → new_label) as a
    broadcast-ready LocalRelation."""

    def build(cat):
        rows = cat.read_small_rows("cluster_remap", ["old_label", "new_label"])
        return rows, "old_label string, new_label string"

    return sidecar_local_df(catalog, "cluster_remap", build)


def _gov(entries_col, era_col):
    """The governing patch entry for a row: earliest entry strictly newer
    than the row (NULL when the row is untouched). ``F.get`` (not
    ``element_at``): returns NULL on an empty filter result instead of
    throwing under Spark 4's default ANSI mode."""
    return F.get(F.filter(entries_col, lambda x: x["e"] > era_col), 0)


def apply_url_patch(
    df: DataFrame, patch: DataFrame, col: str = "url", drop_only: bool = False
) -> DataFrame:
    """Resolve the retraction log over a single-url table. Broadcast join
    only — a map-side pass over the table, zero wide shuffles.

    drop_only: the pages/signatures bucket tables, where a retracted url's
    row is dropped outright (the replacement rep has its OWN row already);
    otherwise a NULL target drops the row and a non-NULL target substitutes
    it (the replacement has byte-identical content, so signature/window
    columns stay exact)."""
    cols = df.columns
    p = patch.select(F.col("url").alias(col), "__entries")
    j = df.join(F.broadcast(p), col, "left")
    gov = _gov(F.col("__entries"), F.col("era"))
    if drop_only:
        return j.where(gov.isNull()).select(*cols)
    return (
        j.where(gov.isNull() | gov["nu"].isNotNull())
        .withColumn(col, F.coalesce(gov["nu"], F.col(col)))
        .select(*cols)
    )


def apply_pair_patch(df: DataFrame, patch: DataFrame) -> DataFrame:
    """Resolve the retraction log over a (url_a, url_b, ...) pair table.

    Untouched rows (neither endpoint governed) pass through map-side. The
    governed subset — bounded by the retracted reps' edge degree, not the
    corpus — is substituted, re-canonicalized (url_a < url_b), self-edges
    dropped (a star edge whose member inherits the rep contracts to a
    point), and deduplicated INTERNALLY (two sources relabeled onto the
    same replacement across retraction eras can collide). The dedup
    shuffles only the governed subset.

    No cross-boundary dedup is needed: a relabeled pair (X, Y) can collide
    with an untouched physical pair (X, Y) only if both X's inheritance
    predates the pair AND the untouched pair joins two docs that BOTH
    predate the governing entry — but pairs between two pre-existing docs
    are only ever created by full stage rebuilds, which overwrite the
    governed rows wholesale (delta appends only create pairs touching a
    newly appended doc, which by definition postdates every stored entry).
    tests/test_mor_retraction.py pins view uniqueness over chained
    retract/re-add sequences."""
    cols = df.columns
    out = df
    for side in ("url_a", "url_b"):
        p = patch.select(
            F.col("url").alias(side), F.col("__entries").alias(f"__e_{side}")
        )
        out = out.join(F.broadcast(p), side, "left")
    gov_a = _gov(F.col("__e_url_a"), F.col("era"))
    gov_b = _gov(F.col("__e_url_b"), F.col("era"))
    touched = gov_a.isNotNull() | gov_b.isNotNull()
    clean = out.where(~touched).select(*cols)
    a = F.coalesce(gov_a["nu"], F.col("url_a"))
    b = F.coalesce(gov_b["nu"], F.col("url_b"))
    others = [c for c in cols if c not in ("url_a", "url_b")]
    t = (
        out.where(touched)
        .where(
            (gov_a.isNull() | gov_a["nu"].isNotNull())
            & (gov_b.isNull() | gov_b["nu"].isNotNull())
        )
        .select(
            F.least(a, b).alias("url_a"),
            F.greatest(a, b).alias("url_b"),
            *others,
        )
        .where(F.col("url_a") != F.col("url_b"))
        .dropDuplicates(["url_a", "url_b"])
    )
    return clean.unionByName(t.select(*cols))


def compose_patch(
    stored: list[tuple[str, str | None, int]],
    mapping: dict[str, str | None],
    era: int,
) -> list[tuple[str, str | None, int]]:
    """Driver-side transitive closure: compose the entries of earlier eras
    with one changeset's retraction mapping and append its entries.

    Earlier entries whose target is retracted at this era follow the
    target's fate (keep the ORIGINAL era — the inherited rows' governance
    window is unchanged). New entries land at the new era. Bounded by the
    log ceiling — pure python over broadcast-sized data, the same shape
    as the stage-3 `_compose_label_patch`."""
    out = [
        (url, mapping.get(nu, nu) if nu is not None else None, e)
        for url, nu, e in stored
    ]
    out.extend((url, nu, era) for url, nu in sorted(mapping.items()))
    return out
