"""Three-stage near-duplicate pipeline over a `pages` table.

Engine equivalent of the reference's index-build write path
(ndd/server_ndd.py:158-268, one process, whole index in RAM) re-expressed as
chained batch jobs over stage tables, each committing per-partition lineage
rows so a killed run resumes without recomputing finished work (the
reference's `.done` protocol, distributed — SURVEY §3.2):

  stage 1   pages → signatures            (bucketed by url hash; per-bucket lineage)
  stage 2   signatures → verified pairs   (LSH candidates + exact-Jaccard verify)
  stage 2b  pages → substring pairs       (rolling windows + suffix-array verify)
  stage 3   pairs → clusters              (connected components + representative)

Scale posture: stage 1 is a map-only pass (zero shuffles — signatures are
computed per Arrow batch and written partitioned). Stage 2 has exactly one
wide shuffle for bucketing plus one dedup and two verify joins, all on keys
Catalyst hash-partitions; AQE handles residual skew after the explicit
bucket-size ceiling. Stage 3 shuffles only the duplicate-pair edge set.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from near_duplicate_detection_spark.config import NDDConfig
from near_duplicate_detection_spark.functions.signatures import (
    SIGNATURE_SCHEMA,
    signature_map_fn,
)
from near_duplicate_detection_spark.lineage import StageCatalog
from near_duplicate_detection_spark.operators import mor
from near_duplicate_detection_spark.operators.connected_components import (
    clusters_table,
    connected_components,
)
from near_duplicate_detection_spark.operators.lsh import (
    band_buckets,
    flagged_buckets,
    flagged_members,
    pairs_from_buckets,
    simhash_fallback_pairs,
)
from near_duplicate_detection_spark.operators.substring import (
    substring_candidates,
    verify_substring_pairs,
)
from near_duplicate_detection_spark.operators.verify import (
    candidate_shingle_sets,
    verify_pairs,
)
from near_duplicate_detection_spark.session import local_frame


def _wrap64(x: int) -> int:
    """Wrap an arbitrary-precision int to signed 64-bit (mod 2^64) — the
    driver-side half of the decimal-accumulated checksum algebra."""
    x &= (1 << 64) - 1
    return x - (1 << 64) if x >= (1 << 63) else x


class NDDPipeline:
    def __init__(self, spark: SparkSession, cfg: NDDConfig, base_dir: str):
        self.spark = spark
        self.cfg = cfg
        self.catalog = StageCatalog(spark, base_dir)
        # snapshot-diff seam (run_incremental(changed_buckets=...)): when a
        # caller can ENUMERATE the drifted url-hash buckets (the Iceberg
        # snapshot-metadata analog — changed data files → changed
        # partitions), the snapshot diff's scans (the url probe and the
        # content join) and the resume fallback's stage-0 stats scan
        # restrict to those buckets: partition-pruned reads on the
        # bucket-partitioned tables, a computed-bucket filter on the input
        # side. None = infer over the whole corpus (default behavior).
        self._changed_buckets: frozenset[int] | None = None

    # ---------- stage 0 ----------

    def _bucket_expr(self):
        return F.pmod(F.xxhash64("url"), F.lit(self.cfg.num_buckets)).cast("int")

    def _restrict_changed(self, df: DataFrame, bucket_col: str | None = None):
        """Apply the snapshot-diff seam: filter ``df`` to the caller-declared
        changed buckets. ``bucket_col`` names a physical bucket column (the
        bucket-partitioned stage tables — the filter partition-prunes);
        None derives the bucket from ``url`` (input snapshots / flat tables
        — the filter bounds the downstream shuffle, not the scan). No-op
        when the seam is inactive."""
        if self._changed_buckets is None:
            return df
        expr = (
            F.col(bucket_col) if bucket_col is not None else self._bucket_expr()
        )
        return df.where(expr.isin(sorted(self._changed_buckets)))

    def _input_stats(self, pages: DataFrame) -> dict[int, tuple[int, int]]:
        """Per-bucket (rows, content checksum) of an input snapshot — ONE
        aggregation scan. The checksum sums the full 64-bit xxhash64 of
        (url, text) mod 2^64, so edits, appends AND deletes all shift the
        bucket's stats (the reference's content version string per videoid,
        ndd/extract_images.py:166-178, as a distributed aggregate).

        Collision bound: two snapshots of a bucket share (rows, checksum)
        only if their multiset hash sums collide — 2^-64 per bucket for
        random drift (the sum is over the full 64-bit hash; accumulated in
        decimal(38,0) because ANSI mode rejects wrap-around bigint sums,
        then wrapped back to mod-2^64 driver-side so the old-share
        subtraction algebra of ``_snapshot_changeset`` stays exact). An
        adversary controlling page text would need a 2^64-work multiset-sum
        collision — impractical, and crawl pipelines don't face adversarial inputs at
        that precision. (Round-2 used the top 32 bits only: 2^-32.)"""
        rows = (
            pages.select(
                self._bucket_expr().alias("bucket"),
                F.xxhash64("url", "text").alias("h"),
            )
            .groupBy("bucket")
            .agg(
                F.count("*").alias("rows"),
                F.sum(F.col("h").cast("decimal(38,0)")).alias("checksum"),
            )
            .collect()
        )
        return {
            int(r["bucket"]): (int(r["rows"]), _wrap64(int(r["checksum"])))
            for r in rows
        }

    def stage0_ingest(self, pages: DataFrame, resume: bool = True) -> None:
        """Materialize the input as the catalog's `pages` table, partitioned
        by url-hash bucket. Every later stage scans this table instead of
        re-evaluating the input plan, and stage 1's pending-bucket filter
        becomes parquet partition pruning. (In production `pages` IS the
        Iceberg input table and this stage is a no-op — snapshot IDs replace
        the checksum scan.)

        DATA-AWARE: a bucket is rewritten iff its input (rows, checksum)
        differ from the last committed stats — so re-running with an
        appended, edited, or shrunken snapshot refreshes exactly the changed
        buckets, and a bucket whose docs all vanished is dropped (the
        reference drops deleted videos on update, ndd/server_ndd.py:246-261).
        A cold build is the case where every bucket is pending. O(append)
        writes go through ``append_pages`` / ``run_incremental`` instead.
        """
        cfg, cat = self.cfg, self.catalog
        h = cfg.stage1_hash()
        t0 = time.monotonic()
        # snapshot-diff seam: with declared changed buckets, both the stats
        # scan and every write below see only those buckets' rows, and
        # undeclared buckets are trusted unchanged (never pending)
        pages = self._restrict_changed(pages)
        candidates = (
            sorted(self._changed_buckets)
            if self._changed_buckets is not None
            else range(cfg.num_buckets)
        )
        done = cat.latest_partition_stats("pages", h) if resume else {}
        stats = self._input_stats(pages)
        pending = sorted(
            b for b in candidates if done.get(b, None) != stats.get(b, (0, 0))
        )
        if not pending:
            return
        nonempty = [b for b in pending if b in stats]
        if nonempty:
            # era-stamped at write time (merge-on-read governance — rows
            # written now postdate every stored retraction-log entry, see
            # operators/mor.py)
            todo = self._stamp_era(
                pages.withColumn("bucket", self._bucket_expr())
            )
            if len(nonempty) < cfg.num_buckets:
                todo = todo.where(
                    F.col("bucket").isin([int(b) for b in nonempty])
                )
            # bucket-PURE partitions: without this, every upstream task writes
            # a file into every bucket dir (tasks × buckets small files), and
            # every downstream partitioned write inherits the explosion. One
            # shuffle here keeps all later stage writes at one-task-one-bucket.
            # maxRecordsPerFile splits each bucket into several files so the
            # downstream map stages regain full read parallelism.
            cat.write(
                todo.repartition("bucket"),
                "pages",
                partition_by=["bucket"],
                max_records_per_file=2048,
            )
        # vanished buckets: dynamic overwrite never touches a partition with
        # zero input rows — drop the dir explicitly (delete handling)
        for b in pending:
            if b not in stats:
                cat.drop_partition("pages", b)
        wall_ms = int((time.monotonic() - t0) * 1000)
        cat.mark_complete(
            "pages",
            h,
            {b: stats.get(b, (0, 0))[0] for b in pending},
            wall_ms,
            checksums={b: stats.get(b, (0, 0))[1] for b in pending},
        )
        cat.add_metrics(
            "pages", {"buckets_rewritten": len(nonempty), "wall_ms": wall_ms}
        )

    def pages_table(self) -> DataFrame:
        """The pages VIEW: physical rows minus the rows the ``retract_patch``
        log governs (deletes/updates append log entries instead of
        rewriting buckets — see ``_apply_changeset``). Every consumer must
        read through this, never ``catalog.read`` raw — the same contract
        as ``clusters_view``/``stage_view``."""
        return pages_view(self.catalog)

    def signatures_table(self) -> DataFrame:
        """The signatures VIEW (same log governance as ``pages_table`` —
        the two tables are written in lockstep)."""
        return signatures_view(self.catalog)

    # ---------- stage 1 ----------

    def stage1_signatures(self, resume: bool = True) -> None:
        """pages → signatures, partitioned by url-hash bucket with per-bucket
        lineage (reference P1 predicate, ndd/extract_features.py:88).

        DATA-AWARE: a bucket is done iff its committed signature lineage
        carries the SAME (rows, checksum) the pages table currently has for
        that bucket — content drift (append/edit/delete) re-signs exactly
        the drifted buckets. The pages checksum is chained into the
        signature lineage row, mirroring the reference's .done strings that
        embed the upstream stage's version (ndd/extract_features.py:74-88).
        """
        cfg, cat = self.cfg, self.catalog
        h = cfg.stage1_hash()
        pages_stats = cat.latest_partition_stats("pages", h)
        if not pages_stats:
            # pages table provided out-of-band (no stage-0 lineage): fall
            # back to treating every bucket as unknown → recompute all
            pages_stats = {
                b: (n, 0) for b, n in cat.bucket_counts("pages").items()
            }
        sig_stats = cat.latest_partition_stats("signatures", h) if resume else {}
        pending = sorted(
            b
            for b in range(cfg.num_buckets)
            if pages_stats.get(b, (0, 0)) != (0, 0)
            and sig_stats.get(b) != pages_stats.get(b)
        )
        vanished = [
            b
            for b in range(cfg.num_buckets)
            if pages_stats.get(b, (0, 0)) == (0, 0) and sig_stats.get(b, (0, 0)) != (0, 0)
        ]
        for b in vanished:
            cat.drop_partition("signatures", b)
        if vanished:
            cat.mark_complete(
                "signatures", h, {b: 0 for b in vanished}, 0,
                checksums={b: 0 for b in vanished},
            )
        if not pending:
            return
        t0 = time.monotonic()

        # bucket recomputed JVM-side after the UDF — it is a pure function
        # of url (the stage-0 expression, see stage0_ingest), so no Python
        # passthrough layer is needed
        sigs = (
            self.pages_table()
            .where(F.col("bucket").isin([int(b) for b in pending]))
            .select("url", "text")
            .mapInPandas(signature_map_fn(cfg), schema=SIGNATURE_SCHEMA)
            .withColumn("bucket", self._bucket_expr())
        )
        # input partitions are bucket-pure (stage 0), so this partitioned
        # write emits one file per task, no fan-out
        cat.write(
            self._stamp_era(sigs), "signatures", partition_by=["bucket"],
            max_records_per_file=2048,
        )
        wall_ms = int((time.monotonic() - t0) * 1000)
        # LIVE rows per bucket = the pages stats (one signature per live
        # page; physical footer counts would include merge-on-read dead
        # rows awaiting a fold)
        cat.mark_complete(
            "signatures",
            h,
            {b: pages_stats.get(b, (0, 0))[0] for b in pending},
            wall_ms,
            # chain the consumed pages content version (reference .done
            # chaining, extract_features.py:74-88)
            checksums={b: pages_stats.get(b, (0, 0))[1] for b in pending},
        )
        # P4 analog (shotdetect.py:42-55 corrupt-input check): degenerate docs
        # are kept but counted — downstream they can only form exact-dup
        # groups with other empties, never LSH noise. Counted from parquet
        # row-group statistics (pyarrow filtered count, driver-side) — the
        # round-1 full Spark scan here was a pure serial tail.
        n_empty = cat.count_rows("signatures", filter_expr=("n_tokens", "==", 0))
        cat.add_metrics(
            "signatures",
            {
                "buckets_computed": len(pending),
                "wall_ms": wall_ms,
                "empty_docs": n_empty,
            },
        )

    # ---------- runtime hash chaining (params ∥ upstream CONTENT) ----------
    #
    # config.py's stage hashes chain parameters only; these runtime hashes
    # additionally fold in the signatures table's content fingerprint (per-
    # bucket rows+checksums from lineage), so appending/editing/deleting
    # pages invalidates stages 2/2b/3 — round 1's param-only predicate
    # silently served stale pairs/clusters after an append.

    @staticmethod
    def _h16(s: str) -> str:
        return hashlib.sha256(s.encode()).hexdigest()[:16]

    def stage2_run_hash(self) -> str:
        return self._h16(
            self.cfg.stage2_hash()
            + "|"
            + self.catalog.content_fingerprint("signatures")
        )

    def stage2b_run_hash(self) -> str:
        # 2b consumes signatures (via reps) AND stage-2 pairs (anti-join of
        # already-verified pairs) → chain both
        return self._h16(
            self.cfg.stage2b_hash()
            + "|"
            + self.catalog.content_fingerprint("signatures")
            + "|"
            + self.stage2_run_hash()
        )

    def stage3_run_hash(self) -> str:
        s2b = (
            self.stage2b_run_hash()
            if self.catalog.exists("substring_pairs")
            else "none"
        )
        return self._h16(
            self.cfg.stage3_hash() + "|" + self.stage2_run_hash() + "|" + s2b
        )

    def clusters_view(self) -> DataFrame:
        """The committed clusters with the merge-on-read label patch applied
        — see ``patched_clusters``. Every consumer of cluster labels must
        read through this, never ``catalog.read("clusters")`` raw."""
        return patched_clusters(self.catalog)

    # ---------- stage 2 ----------

    def stage2_pairs(self, resume: bool = True) -> None:
        cfg, cat = self.cfg, self.catalog
        h = self.stage2_run_hash()
        if (
            resume
            and cat.completed_partitions("pairs", h)
            and cat.exists("pairs")
        ):
            return
        t0 = time.monotonic()
        # invalidate the stage BEFORE its first mutation: a lineage row no
        # run hash matches, so a crash mid-rewrite leaves the delta
        # preconditions refusing (``completed_partitions`` trusts only the
        # latest row) instead of old-hash lineage over rewritten tables
        cat.mark_complete("pairs", "", {-1: 0}, 0)
        # a full stage-2 rewrite (e.g. after an edit) invalidates the 2b
        # delta state (reps may change under the window index) — wipe it
        # BEFORE any table write below: a crash mid-rewrite must leave the
        # conservative state (missing ⇒ the 2b delta refuses), never
        # stale-but-plausible state.
        shutil.rmtree(cat.path("window_index"), ignore_errors=True)
        # column-prune BEFORE the fp join: stage 2 only ever uses url+bands
        # (LSH) and url+simhash (fallback) — shipping the 128-perm minhash
        # array through the exact-group shuffles would 5× the bytes for
        # nothing (the minhash column exists for the query path / re-banding)
        sigs = self.signatures_table().select("url", "fp", "bands", "simhash")
        # exact-dup star edges first; LSH sees one representative per
        # distinct content (collapses boilerplate/exact-dup bucket skew).
        # Materialize the JOINED star table ONCE and derive edges/reps as
        # map-side filters over the checkpoint: the round-5 shape
        # checkpointed exact_edges and reps separately, which ran the
        # signature scan + exact-group shuffle TWICE (r6 A/B: 2.99 s for the
        # two checkpoints vs 0.48 s for one at 40k docs).
        rep_map = sigs.groupBy("fp").agg(F.min("url").alias("rep"))
        with_rep = sigs.join(rep_map, "fp").localCheckpoint()
        exact_edges = with_rep.where(F.col("url") != F.col("rep")).select(
            F.col("rep").alias("url_a"),
            F.col("url").alias("url_b"),
            F.lit(1.0).alias("jaccard"),
        )
        reps = with_rep.where(F.col("url") == F.col("rep")).drop("rep")
        # reps doubles as the delta path's INDEX: fp is the exact-group
        # rep_map, bands/simhash let an append's LSH probe scan this table
        # map-side instead of re-deriving the rep set by semi-joining the
        # full signatures table against reps every delta run (an O(corpus)
        # shuffle per append in round 3). Signatures are pure functions of
        # text, so retraction rep-substitution keeps these columns exact.
        cat.write(
            self._stamp_era(reps.select("url", "fp", "bands", "simhash")), "reps"
        )
        # materialize ONLY the multi-member band buckets (small) — every
        # later consumer (flag metric, pair expansion) derives map-side from
        # it instead of recomputing the scan+window+groupBy subtree
        buckets = band_buckets(reps, cfg).localCheckpoint()
        flagged = flagged_buckets(buckets, cfg)
        # the fallback is only joined in when a bucket actually tripped the
        # ceiling. Deciding that takes one count over the checkpointed
        # (tiny) bucket table — near-zero, and it doubles as the flagged
        # metric the round-5 shape paid a separate post-commit job for.
        # (Round 1's sin was recomputing the corpus-wide band explode to
        # decide; counting materialized partitions is the CC-fixpoint trick
        # instead.) The unconditional union cost ~0.4 s of empty-side
        # shuffles/run.
        n_flagged = flagged.count()
        cands = pairs_from_buckets(buckets, cfg, dedup=False)
        if n_flagged:
            cands = cands.union(
                simhash_fallback_pairs(
                    reps, flagged_members(buckets, cfg), cfg, dedup=False
                )
            )
        cands = cands.dropDuplicates(["url_a", "url_b"]).localCheckpoint()
        # materialize the shingle sets: verify joins them TWICE (url_a and
        # url_b sides), which would run the Arrow recompute twice
        sets = candidate_shingle_sets(cands, self.pages_table(), cfg).localCheckpoint()
        verified = verify_pairs(cands, sets, cfg)
        cat.write(self._stamp_era(verified.unionByName(exact_edges)), "pairs")
        wall_ms = int((time.monotonic() - t0) * 1000)
        n_pairs = cat.count_rows("pairs")
        cat.mark_complete("pairs", h, {-1: n_pairs}, wall_ms)
        cat.add_metrics(
            "pairs",
            {
                "verified_pairs": n_pairs,
                # counted once, up front, where it also routes the fallback
                "flagged_buckets": n_flagged,
                "wall_ms": wall_ms,
            },
        )

    def stage2_pairs_delta(
        self, new_sigs: DataFrame | None, n_new: int
    ) -> tuple[DataFrame, DataFrame] | None:
        """Incremental stage 2 of one changeset (``_apply_changeset``): the
        append of ``new_sigs`` (``n_new`` materialized signature rows of
        genuinely new or just retracted urls) against the persisted
        reps/pairs index instead of the corpus-wide band groupBy
        (operators/delta.py), under the changeset's final run hash — the
        retraction itself is already governed by the core's log entry. A
        pure retraction (``new_sigs`` None) commits the pairs table under
        its new hash. Returns the appended reps' urls (the stage-2b delta's
        new coverage) and the appended pair keys (its already-verified
        prune, and stage 3's new edges), both checkpointed, or None when
        nothing was appended. Runs under the core's ``delta.inflight``
        marker.

        Cluster-partition equivalence with a full rebuild is pinned by
        tests/test_incremental.py; in the bucket-ceiling-crossing corner
        the delta keeps strictly MORE verified pairs (recall ≥ full)."""
        from near_duplicate_detection_spark.operators.delta import (
            delta_exact,
            delta_lsh_candidates,
        )

        cfg, cat = self.cfg, self.catalog
        h = self.stage2_run_hash()  # after the changeset's lineage advance
        if new_sigs is None:
            cat.mark_complete("pairs", h, {-1: cat.count_rows("pairs")}, 0)
            return None
        t0 = time.monotonic()
        reps_tbl = self.stage_view("reps")
        rep_map = reps_tbl.select("fp", F.col("url").alias("rep"))
        exact_edges, new_reps = delta_exact(new_sigs, rep_map)
        new_reps = new_reps.localCheckpoint()
        # the reps table IS the probe index (url, fp, bands, simhash): one
        # map-side scan. Round 3 re-derived the rep signature set per run
        # by semi-joining the full signatures table against reps — an
        # O(corpus) shuffle on url for every append.
        old_rep_sigs = reps_tbl.select("url", "bands", "simhash")
        cands, flagged = delta_lsh_candidates(old_rep_sigs, new_reps, cfg)
        cands = cands.localCheckpoint()

        # the flagged metric must complete before the appends below mutate
        # the tables its lineage reads from (stale file-listing hazard)
        n_flagged = flagged.count()
        sets = candidate_shingle_sets(cands, self.pages_table(), cfg).localCheckpoint()
        # materialize the appended pairs ONCE: the pairs append and the
        # returned keys (2b prune, stage-3 edges) consume them, and the
        # verify join must not re-run
        appended_pairs = (
            verify_pairs(cands, sets, cfg).unionByName(exact_edges).localCheckpoint()
        )
        cat.write(self._stamp_era(appended_pairs), "pairs", mode="append")
        cat.write(
            self._stamp_era(new_reps.select("url", "fp", "bands", "simhash")),
            "reps",
            mode="append",
        )
        wall_ms = int((time.monotonic() - t0) * 1000)
        n_pairs = cat.count_rows("pairs")
        cat.mark_complete("pairs", h, {-1: n_pairs}, wall_ms)
        cat.add_metrics(
            "pairs",
            {
                "verified_pairs": n_pairs,
                "delta_new_docs": n_new,
                "flagged_buckets": n_flagged,
                "wall_ms": wall_ms,
            },
        )
        return new_reps.select("url"), appended_pairs.select("url_a", "url_b")

    # ---------- targeted retraction (edit/delete delta) ----------

    # One write-ahead marker guards the multi-table mutations, which have no
    # atomic commit: `delta.inflight` brackets a whole changeset (set before
    # its first mutation, cleared after its clusters commit) and every
    # compact() rewrite. Marker up ⇒ a crash may have left partial table
    # state ⇒ every delta entry point refuses, and ``run`` rebuilds every
    # stage from scratch (whose overwrites are idempotent), clearing the
    # marker once its clusters commit.
    # This file-exists check replaced the round-3 anti-join "partial" guards
    # (reps ∪ pairs(a) ∪ pairs(b) vs the processed urls, and the 2b
    # mirror) — two full edge-table scans per delta run whose only purpose
    # was detecting the same crash window the marker now brackets exactly.

    def _marker_path(self, name: str) -> str:
        return os.path.join(self.catalog.base_dir, name)

    def _marker_up(self, name: str) -> bool:
        return os.path.exists(self._marker_path(name))

    def _set_marker(self, name: str) -> None:
        with open(self._marker_path(name), "w") as f:
            f.write("in progress\n")

    def _clear_marker(self, name: str) -> None:
        try:
            os.remove(self._marker_path(name))
        except FileNotFoundError:
            pass

    def _delta_suspect(self) -> bool:
        """True when a crashed changeset, fold or compaction may have left
        partial table state — every delta entry point refuses."""
        return self._marker_up("delta.inflight")

    # ---- clusters append-era counter (compaction trigger) ----
    # Each merge-on-read commit appends exactly one clusters file; the one
    # rewrite (_rewrite_clusters) re-bases the table at the job's write
    # parallelism.
    # Counting ERAS (appends since the last rewrite) therefore measures
    # fragmentation independently of cluster size, where a raw file count
    # would mis-trigger at high parallelism. The counter is an advisory
    # execution artifact — any value (including a missing file) is safe; it
    # only decides WHEN a delta commit folds, never what it commits.

    def _append_era(self) -> int:
        try:
            with open(self._marker_path("delta.appends")) as f:
                return int(f.read().strip() or 0)
        except (FileNotFoundError, ValueError):
            return 0

    def _bump_append_era(self) -> None:
        self._write_counter("delta.appends", self._append_era() + 1)

    def _reset_append_era(self) -> None:
        self._clear_marker("delta.appends")

    # retraction-era counter for the merge-on-read retraction log
    # (operators/mor.py), bumped once per changeset with deletes or
    # updates. MONOTONE and never reset: governed-table rows are stamped
    # with the counter at write time, log entries with the post-bump value,
    # and an entry governs exactly the rows with row.era < entry.era — so
    # stale rows surviving a partial rebuild (e.g. substring_pairs across a
    # stage-2-only rewrite) stay correctly governed while freshly rebuilt
    # rows are automatically exempt.
    def _retract_era(self) -> int:
        """Missing file = era 0 (a catalog that never retracted). An
        EXISTING but unparsable file is refused, never read as 0: the
        counter is the governance clock for every MOR sidecar — silently
        resetting it would make all future patch/tombstone entries govern
        nothing (rows carry higher eras than the entries), i.e. deleted
        urls would stay visible with no error anywhere. Unreachable with
        the atomic bump below; defense against external truncation."""
        try:
            with open(self._marker_path("retract.era")) as f:
                content = f.read().strip()
        except FileNotFoundError:
            return 0
        try:
            return int(content)
        except ValueError:
            raise RuntimeError(
                "retract.era counter file is corrupt — refusing to read it "
                "as 0 (a reset clock makes stored sidecar entries govern "
                "the wrong rows, silently). Heal: delete retract.era AND "
                "every MOR sidecar dir (retract_patch, cluster_remap, "
                "cluster_tombstones), then full-rebuild via "
                "run() — it re-stamps every governed table at the fresh "
                "clock."
            ) from None

    def _write_counter(self, name: str, value: int) -> None:
        """Atomic counter write: temp file + rename, so a crash mid-write
        can never leave a truncated/empty counter (open('w') truncates at
        open — a kill before the write would otherwise tear the file)."""
        path = self._marker_path(name)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(f"{int(value)}\n")
        os.replace(tmp, path)

    def _bump_retract_era(self) -> int:
        era = self._retract_era() + 1
        self._write_counter("retract.era", era)
        return era

    def _stamp_era(self, df: DataFrame) -> DataFrame:
        """Stamp governed-table rows with the current retraction era (rows
        written NOW postdate every stored log entry, so no entry governs
        them — see operators/mor.py)."""
        return df.withColumn("era", F.lit(int(self._retract_era())))

    def stage_view(self, table: str) -> DataFrame:
        """A governed stage-2/2b table with the merge-on-read retraction
        log resolved (operators/mor.py) — broadcast join only, zero wide
        shuffles over the table. Every consumer of reps/pairs/window_index/
        substring_pairs must read through this, never ``catalog.read(...)``
        raw (same contract as ``clusters_view``)."""
        df = self.catalog.read(table)
        patch = mor.patch_agg(self.catalog)
        if patch is None:
            return df
        if table in mor.PAIR_TABLES:
            return mor.apply_pair_patch(df, patch)
        return mor.apply_url_patch(df, patch)

    def _retraction_mapping(self, urls: list[str]) -> dict[str, str | None]:
        """The retraction mapping of one changeset, read before its first
        mutation: every retracted url → NULL (its rows die), except a
        retracted exact-group representative, whose rows are INHERITED
        verbatim by the min surviving member of its fp group (identical
        content ⇒ identical signatures, windows, and verified scores).
        Reference: ``update_index`` removes a vanished video's entries
        without rebuilding the index (ndd/server_ndd.py:246-261).

        Cost: the broken reps' fp groups — ONE map-side broadcast-pruned
        pass over the reps view and one over the signatures view (read-only
        scans with tiny outputs). The signatures view holds exactly the
        (url, fp) rows stage 2 processed whenever the delta preconditions
        pass: pairs are committed under a run hash that chains the
        signatures fingerprint. ``urls``: the distinct retracted urls,
        already bounded by ``cfg.max_retract`` (the broadcast ceiling)."""
        retracted = local_frame(self.spark, [(u,) for u in urls], "url string")
        broken = (
            self.stage_view("reps")
            .join(F.broadcast(retracted), "url", "left_semi")
            .select("url", "fp")
            .localCheckpoint()
        )
        surv = (
            self.signatures_table()
            .select("url", "fp")
            .join(
                F.broadcast(broken.select("fp").distinct()), "fp", "left_semi"
            )
            .join(F.broadcast(retracted), "url", "left_anti")
            .groupBy("fp")
            .agg(F.min("url").alias("new_url"))
        )
        rep_new = {
            r["url"]: r["new_url"]
            for r in broken.join(F.broadcast(surv), "fp", "left")
            .select("url", "new_url")
            .collect()
        }
        return {u: rep_new.get(u) for u in urls}

    # ---------- stage 2b ----------

    def stage2b_substring(self, resume: bool = True) -> None:
        cfg, cat = self.cfg, self.catalog
        h = self.stage2b_run_hash()
        # exists guard: a missing table must rebuild even if lineage matches
        if (
            resume
            and cat.completed_partitions("substring_pairs", h)
            and cat.exists("substring_pairs")
        ):
            return
        t0 = time.monotonic()
        # invalidate before the first mutation, as in stage2_pairs
        cat.mark_complete("substring_pairs", "", {-1: 0}, 0)
        pages = self.pages_table()
        if cat.exists("reps"):
            # substring pass over unique-content representatives only —
            # exact copies are already linked by stage 2's star edges
            # (view: a retraction may have relabeled reps onto survivors)
            pages = pages.join(self.stage_view("reps"), "url", "left_semi")
        cands, flagged, windows = substring_candidates(
            pages, cfg, return_windows=True
        )
        # pairs already verified by stage 2 don't need the expensive LCS pass
        if cat.exists("pairs"):
            cands = cands.join(
                self.stage_view("pairs").select("url_a", "url_b"),
                ["url_a", "url_b"],
                "left_anti",
            )
        # materialize the (small) candidate set ONCE: the verify step reads
        # it three times (url prune ×2 branches + the pair join) — without
        # this the whole fingerprint→bucket→expand subtree re-evaluates per
        # consumer
        cands = cands.localCheckpoint()
        # delta-path state next to the verified pairs: the per-doc window
        # fingerprint index appended docs probe. The stage commits only at
        # mark_complete below.
        cat.write(self._stamp_era(windows), "window_index")
        cat.write(
            self._stamp_era(verify_substring_pairs(cands, pages, cfg)),
            "substring_pairs",
        )
        wall_ms = int((time.monotonic() - t0) * 1000)
        n = cat.count_rows("substring_pairs")
        cat.mark_complete("substring_pairs", h, {-1: n}, wall_ms)
        cat.add_metrics(
            "substring_pairs",
            {
                "substring_pairs": n,
                # derives from the checkpointed multi-doc window counts
                # inside substring_candidates — cheap, after the commit
                "flagged_window_buckets": flagged.count(),
                "wall_ms": wall_ms,
            },
        )

    def stage2b_delta(
        self,
        new_urls: DataFrame | None,
        new_pages: DataFrame | None,
        prior_edges: DataFrame | None,
    ) -> DataFrame | None:
        """Incremental stage 2b of one changeset (``_apply_changeset``): the
        appended reps' anchored windows probe the persisted window_index
        (operators/delta.py delta_window_candidates) instead of
        re-fingerprinting the corpus. ``new_urls`` are the stage-2 delta's
        appended rep urls (materialized),
        ``new_pages`` the changeset's materialized (url, text) batch they
        come from, ``prior_edges`` the same run's appended stage-2 pair
        keys; None (a pure retraction) commits substring_pairs under its
        new run hash. Returns the appended pair keys (checkpointed — stage
        3's new edges), or None when nothing was appended. Runs under the
        core's ``delta.inflight`` marker. The full stage-2 path wipes
        window_index, so a rebuild never leaves stale 2b delta state
        behind."""
        from near_duplicate_detection_spark.operators.delta import (
            delta_window_candidates,
        )
        from near_duplicate_detection_spark.operators.substring import (
            DOC_WINDOWS_SCHEMA,
            window_fingerprint_fn,
        )

        cfg, cat = self.cfg, self.catalog
        h = self.stage2b_run_hash()
        n_new = new_urls.count() if new_urls is not None else 0
        if n_new == 0:
            cat.mark_complete(
                "substring_pairs", h, {-1: cat.count_rows("substring_pairs")}, 0
            )
            return None
        t0 = time.monotonic()
        # text source: the changeset's materialized batch — zero corpus reads
        new_windows = (
            new_pages.join(F.broadcast(new_urls), "url", "left_semi")
            .select("url", "text")
            .mapInPandas(window_fingerprint_fn(cfg), DOC_WINDOWS_SCHEMA)
            .select("url", F.explode("win_hashes").alias("win_hash"))
            .localCheckpoint()
        )
        cands, flagged = delta_window_candidates(
            self.stage_view("window_index"), new_windows, cfg
        )

        # the flagged metric must complete before the appends mutate the
        # tables its lineage reads from
        n_flagged = flagged.count()
        # already-verified pairs skip the LCS. ``prior_edges`` is the SAME
        # run's appended stage-2 pairs (checkpointed, append-sized): every
        # candidate touches ≥1 new url, and a new url has no OTHER visible
        # edges — it is either genuinely new or its old edges were
        # retraction-governed before the append — so one broadcast
        # anti-join prunes exactly what an edge-table scan would, with zero
        # corpus-edge reads.
        pruned = cands.join(
            F.broadcast(prior_edges), ["url_a", "url_b"], "left_anti"
        ).localCheckpoint()
        # two consumers: the table append and the returned keys
        hits = verify_substring_pairs(
            pruned, self.pages_table(), cfg
        ).localCheckpoint()
        cat.write(self._stamp_era(hits), "substring_pairs", mode="append")
        cat.write(self._stamp_era(new_windows), "window_index", mode="append")
        wall_ms = int((time.monotonic() - t0) * 1000)
        n = cat.count_rows("substring_pairs")
        cat.mark_complete("substring_pairs", h, {-1: n}, wall_ms)
        cat.add_metrics(
            "substring_pairs",
            {
                "substring_pairs": n,
                "delta_new_docs": n_new,
                "flagged_window_buckets": n_flagged,
                "wall_ms": wall_ms,
            },
        )
        return hits.select("url_a", "url_b")

    # ---------- stage 3 ----------

    def stage3_clusters(self, resume: bool = True) -> None:
        cfg, cat = self.cfg, self.catalog
        h = self.stage3_run_hash()
        if (
            resume
            and cat.completed_partitions("clusters", h)
            and cat.exists("clusters")
        ):
            return
        t0 = time.monotonic()
        edges = self.stage_view("pairs").select("url_a", "url_b")
        if cat.exists("substring_pairs"):
            edges = edges.union(
                self.stage_view("substring_pairs").select("url_a", "url_b")
            )
        labels = connected_components(edges)
        self._rewrite_clusters(
            clusters_table(labels, self.pages_table().select("url"))
        )
        wall_ms = int((time.monotonic() - t0) * 1000)
        n = cat.count_rows("clusters")
        cat.mark_complete("clusters", h, {-1: n}, wall_ms)
        # multi-doc cluster metric straight from the checkpointed CC labels
        # instead of re-scanning the just-written corpus-sized table: every
        # CC component has ≥2 members (labels cover exactly the nodes with
        # an edge), and no singleton's cluster_id (its own url, absent from
        # labels) can collide with a component label (a member url), so
        # distinct labels ≡ clusters with ≥2 members.
        cat.add_metrics(
            "clusters",
            {
                "rows": n,
                "multi_doc_clusters": labels.select("label")
                .distinct()
                .count(),
                "wall_ms": wall_ms,
            },
        )

    def _rewrite_clusters(self, rows: DataFrame) -> None:
        """The one ``clusters`` rewrite — the full build hands it the CC
        labels, the delta's fold trigger and ``compact()`` hand it
        ``clusters_view()``. In order: stage ``rows`` in ``clusters_next``,
        wipe ``cluster_remap``, rename the staged dir over ``clusters``,
        wipe ``cluster_tombstones``, reset the append era.

        The staged rows carry the current era and fold every sidecar. The
        patch dies before the rename (a stale key could collide with a
        label that re-emerges in the new table); the tombstones die after
        it (era-inert against the staged rows, so a crash between the two
        never resurrects dead rows). The destructive window runs under
        ``delta.inflight``: a kill before it leaves the old table and its
        sidecars intact, a kill inside it leaves the marker up. A caller's
        bracket that is already up is left for that caller to clear."""
        cat = self.catalog
        shutil.rmtree(cat.path("clusters_next"), ignore_errors=True)
        cat.write(self._stamp_era(rows), "clusters_next")
        own = not self._delta_suspect()
        if own:
            self._set_marker("delta.inflight")
        shutil.rmtree(cat.path("cluster_remap"), ignore_errors=True)
        shutil.rmtree(cat.path("clusters"), ignore_errors=True)
        os.rename(cat.path("clusters_next"), cat.path("clusters"))
        shutil.rmtree(cat.path("cluster_tombstones"), ignore_errors=True)
        self._reset_append_era()
        if own:
            self._clear_marker("delta.inflight")

    def stage3_clusters_delta(
        self,
        new_edges: DataFrame | None,
        new_urls: DataFrame | None,
        retracted: list[str],
        n_new_edges: int,
    ) -> bool:
        """Incremental clustering of one changeset (``_apply_changeset``),
        handed its change in memory: ``new_edges`` the stage-2/2b deltas'
        appended pair keys (checkpointed; ``n_new_edges`` rows),
        ``new_urls`` the batch's urls (materialized, unique), ``retracted``
        the urls of the changeset's retraction mapping.

        Append half: contracts the new edges to the committed clusters'
        labels and solves the contracted graph with the driver union-find
        (operators/delta.py cluster_label_delta) — work scales with the
        change, not the corpus edge set. Retract half: every cluster
        touching a retracted url is DISSOLVED — edge removal can split it
        and change its min-url label — and its surviving members (the
        frontier) re-cluster as raw nodes from the post-retraction edge
        tables (a map-side semi-join filter over the full
        pairs/substring_pairs views — an O(edges) READ, but no wide shuffle
        and no re-verification), side by side with the new edges.

        Commit, one way — merge-on-read: the new and re-labeled rows land
        as one appended file, label merges as ``cluster_remap`` rows
        (old_label → new_label) and the dissolved memberships as
        ``cluster_tombstones`` rows (url, era), resolved by every reader
        through ``patched_clusters``. When a fold trigger is crossed — the
        append era has reached ``cfg.clusters_append_ceiling``, or the
        stored patch or tombstones exceed ``cfg.max_remap`` —
        ``_rewrite_clusters`` then folds the view (the same shape as
        ``retract_patch_ceiling`` → ``_fold``).

        Returns False, before any mutation, when the frontier or the
        contraction graph exceeds ``cfg.max_remap`` (the driver and
        broadcast ceiling) — the caller then runs the full stage. Runs
        under the core's ``delta.inflight`` marker: a crash anywhere leaves
        it up, every delta entry refuses, and the full rebuild heals."""
        import pyarrow as _pa

        from near_duplicate_detection_spark.operators.delta import (
            cluster_label_delta,
            pairs_touching,
        )

        cat, max_remap = self.catalog, self.cfg.max_remap
        h = self.stage3_run_hash()
        t0 = time.monotonic()
        n_old_rows = cat.count_rows("clusters")  # footer read, no Spark job
        # the VIEW (patched labels): new remaps must contract against what
        # readers currently see
        old = self.clusters_view().select("url", "cluster_id")
        frontier_urls: list[str] = []
        frontier = sub_edges = None
        n_dissolved = 0
        base_old = old
        if retracted:
            retr = local_frame(self.spark, [(u,) for u in retracted], "url string")
            # affected cluster ids and the surviving frontier are both
            # ceiling-bounded (affected ≤ |retraction|; frontier guarded by
            # max_remap below), so COLLECT them into LocalRelations instead
            # of localCheckpoint+count: one evaluation each of the corpus
            # clusters view rather than two, and every downstream broadcast
            # (pairs_touching probe, base_old anti-join) builds driver-side
            # with no extra job
            affected_ids = sorted(
                r["cluster_id"]
                for r in old.join(F.broadcast(retr), "url", "left_semi")
                .select("cluster_id")
                .distinct()
                .collect()
            )
            n_dissolved = len(affected_ids)
            affected = local_frame(
                self.spark, [(c,) for c in affected_ids], "cluster_id string"
            )
            # take(ceiling+1) pushes a CollectLimit: an over-ceiling dissolve
            # (giant cluster) early-stops instead of materializing the set
            frontier_rows = (
                old.join(F.broadcast(affected), "cluster_id", "left_semi")
                .select("url")
                .join(F.broadcast(retr), "url", "left_anti")
                .take(max_remap + 1)
            )
            if len(frontier_rows) > max_remap:
                return False  # dissolve set too wide to broadcast → full CC
            frontier_urls = sorted(r["url"] for r in frontier_rows)
            frontier = local_frame(
                self.spark, [(u,) for u in frontier_urls], "url string"
            )
            all_edges = self.stage_view("pairs").select("url_a", "url_b")
            if cat.exists("substring_pairs"):
                all_edges = all_edges.union(
                    self.stage_view("substring_pairs").select("url_a", "url_b")
                )
            sub_edges = pairs_touching(all_edges, frontier)
            base_old = old.join(F.broadcast(affected), "cluster_id", "left_anti")
        edge_parts = [p for p in (new_edges, sub_edges) if p is not None]
        node_labels, changed = None, {}
        if edge_parts:
            combined = edge_parts[0]
            for p in edge_parts[1:]:
                combined = combined.union(p)
            combined = combined.dropDuplicates(["url_a", "url_b"])
            if sub_edges is not None:
                # the dissolve edges read the corpus-sized pairs views;
                # cluster_label_delta evaluates its edge input twice (label
                # lookup endpoints, then the contraction) — materialize ONCE.
                # Change-proportional: |new_edges| + the dissolved clusters'
                # edge degree. The pure-append path skips this (new_edges is
                # already checkpointed — a checkpoint would only add a job)
                combined = combined.localCheckpoint()
            # frontier members are NOT in base_old, so the contraction keeps
            # them as raw nodes and re-derives their labels from scratch
            solved = cluster_label_delta(base_old, combined, max_remap)
            if solved is None:
                return False  # contraction graph past the driver bound → full CC
            node_labels, changed = solved
        # no retracted-url filter: a retracted url in the batch is an
        # UPDATED doc, re-entering with its new content
        new_rows = (
            new_urls
            if new_urls is not None
            else local_frame(self.spark, [], "url string")
        )
        if frontier is not None:
            # dissolved-cluster survivors re-enter exactly like new docs:
            # label from the contraction, else themselves (singletons)
            new_rows = new_rows.unionByName(frontier.select("url"))
        if node_labels is not None:
            new_rows = new_rows.join(node_labels, "url", "left").select(
                "url", F.coalesce("label", F.col("url")).alias("cluster_id")
            )
        else:
            new_rows = new_rows.withColumn("cluster_id", F.col("url"))
        # The new remaps operate on PATCHED labels (``old`` reads the view),
        # so the stored patch composes with them transitively; labels only
        # ever decrease (min-root union-find), so a folded key can never
        # re-emerge as a displayed label and one join pass resolves every
        # row. Tombstones are era-discriminated (operators/mor.py): the
        # frontier's re-labeled rows are appended at the CURRENT retraction
        # era, which the tombstone written at that same era does not govern
        # — only the pre-retraction rows die.
        new_patch = self._compose_label_patch(changed)
        new_tomb = sorted(set(retracted) | set(frontier_urls))
        had_tomb = cat.exists("cluster_tombstones")
        n_tomb = len(new_tomb) + (
            cat.count_rows("cluster_tombstones") if had_tomb else 0
        )
        fold = (
            self._append_era() >= self.cfg.clusters_append_ceiling
            or len(new_patch) > max_remap
            or n_tomb > max_remap
        )
        cat.write(
            self._stamp_era(
                new_rows.withColumn(
                    "is_representative", F.col("url") == F.col("cluster_id")
                )
            ).coalesce(1),
            "clusters",
            mode="append",
        )
        n_new_urls = cat.count_rows("clusters") - n_old_rows - len(frontier_urls)
        if new_tomb:
            # ALL rows of the dissolved clusters die: retracted members
            # outright, frontier members' PRE-retraction rows. Both url sets
            # are driver lists (ceiling-checked above), so the append is a
            # driver-side read-union-rewrite of the ceiling-bounded sidecar
            # — zero Spark jobs (a python-sourced Spark write pays a
            # Python-worker launch per default partition, ~4 s measured for
            # tiny tables)
            era_now = int(self._retract_era())
            old_tomb = (
                cat.read_small_rows("cluster_tombstones", ["url", "era"])
                if had_tomb
                else []
            )
            cat.write_small_local(
                "cluster_tombstones",
                old_tomb + [(u, era_now) for u in new_tomb],
                ["url", "era"],
                types=[_pa.string(), _pa.int64()],
            )
        if new_patch:
            cat.write_small_local(
                "cluster_remap",
                sorted(new_patch.items()),
                ["old_label", "new_label"],
            )
        else:
            shutil.rmtree(cat.path("cluster_remap"), ignore_errors=True)
        if fold:
            # bounds small-file growth (one file per commit), patch age and
            # the readers' broadcasts; the fold reads the just-committed view
            self._rewrite_clusters(self.clusters_view())
        else:
            self._bump_append_era()
        n = cat.count_rows("clusters")  # footer read, no Spark job
        wall_ms = int((time.monotonic() - t0) * 1000)
        cat.mark_complete("clusters", h, {-1: n}, wall_ms)
        cat.add_metrics(
            "clusters",
            {
                # physical footer count: includes tombstoned rows until a
                # fold reclaims them (live count = view)
                "rows": n,
                "delta_new_edges": n_new_edges,
                "delta_new_urls": n_new_urls,
                "delta_merged_labels": len(changed),
                "delta_retracted_urls": len(retracted),
                "delta_dissolved_clusters": n_dissolved,
                "delta_append_only_commit": 0 if retracted else 1,
                "delta_retract_mor_commit": 1 if retracted else 0,
                "clusters_fold": 1 if fold else 0,
                "delta_patch_rows": 0 if fold else len(new_patch),
                "delta_tombstone_rows": 0 if fold else n_tomb,
                # multi_doc_clusters deliberately NOT recomputed here: it is
                # a corpus-wide groupBy — an O(corpus) shuffle per commit at
                # scale. Full builds report it.
                "wall_ms": wall_ms,
            },
        )
        return True

    def _compose_label_patch(
        self, changed: dict[str, str]
    ) -> dict[str, str]:
        """Compose the stored merge-on-read patch with this run's remaps.

        The stored patch maps physical labels to CURRENT (displayed)
        labels; ``changed`` maps current labels to this run's new labels —
        so the composition chains stored values through ``changed``, and
        ``changed`` keys not already covered become new patch keys.
        Both inputs are transitively closed (union-find roots are never
        keys; the store is composed on every commit), so the result is too.
        Driver-side dict math over broadcast-ceiling-bounded inputs."""
        cat = self.catalog
        patch: dict[str, str] = {}
        if cat.exists("cluster_remap"):
            patch = dict(
                cat.read_small_rows(
                    "cluster_remap", ["old_label", "new_label"]
                )
            )
        out = {o: changed.get(n, n) for o, n in patch.items()}
        for c, n in changed.items():
            if c not in patch:
                out[c] = n
        return {o: n for o, n in out.items() if o != n}

    # ---------- targeted re-index ----------

    def invalidate_urls(self, urls: list[str]) -> None:
        """Force recomputation of the buckets holding the given urls on the
        next resume run (reference `update_index` with explicit videoids,
        ndd/server_ndd.py:307-315). Implemented by retracting the buckets'
        committed signature stats: a (-1, -1) lineage row can never match
        the upstream pages stats, so the data-aware predicate re-signs
        exactly those buckets — and the changed signature lineage flows into
        every downstream runtime hash."""
        if not urls:
            return
        cfg, cat = self.cfg, self.catalog
        rows = (
            local_frame(self.spark, [(u,) for u in urls], "url string")
            .select(self._bucket_expr().alias("bucket"))
            .distinct()
            .collect()
        )
        buckets = sorted(int(r["bucket"]) for r in rows)
        cat.mark_complete(
            "signatures",
            cfg.stage1_hash(),
            {b: -1 for b in buckets},
            0,
            checksums={b: -1 for b in buckets},
        )

    # ---------- full build ----------

    def run(
        self,
        pages: DataFrame | None = None,
        resume: bool = True,
        substring_pass: bool = True,
    ) -> DataFrame:
        """Full build. `pages=None` reuses the catalog's existing pages table.
        While a crash marker is up the catalog's physical state is suspect
        (a killed changeset may have appended rows its lineage never
        recorded), so every stage rebuilds from scratch instead of
        trusting its lineage; the marker clears only once the rebuilt
        clusters commit."""
        if self._delta_suspect():
            resume = False
        if pages is not None:
            self.stage0_ingest(pages, resume)
        self.stage1_signatures(resume)
        self.stage2_pairs(resume)
        if substring_pass:
            self.stage2b_substring(resume)
        self.stage3_clusters(resume)
        self._clear_marker("delta.inflight")
        return self.clusters_view()

    def run_incremental(
        self,
        pages: DataFrame | None = None,
        substring_pass: bool = True,
        changed_buckets=None,
    ) -> DataFrame:
        """Snapshot-inferred incremental build. ``pages`` is the FULL
        current snapshot (same contract as run()); its appends, edits and
        deletes are inferred by diffing it against the pages view
        (``_snapshot_changeset``) and applied by the changeset core every
        explicit entry point shares (``_apply_changeset``). When the catalog
        cannot take a delta — first build, crash marker, param change,
        signatures lagging pages (e.g. after ``invalidate_urls``), clusters
        lagging the edge tables (a killed full build), a retraction over
        ``cfg.max_retract`` — this is
        ``run(pages, resume=True)``, whose data-aware resume rebuilds exactly
        what drifted. A snapshot that repeats a url raises ``ValueError``
        before any mutation.

        SNAPSHOT-DIFF SEAM: ``changed_buckets`` (iterable of bucket ids)
        declares that ONLY those url-hash buckets can have drifted since
        the last committed run — the information an Iceberg snapshot diff
        yields for free (changed data files → changed partitions). The
        diff's probe and content join then read only those buckets
        (partition-pruned on the bucket-partitioned pages table), and so
        does the resume fallback's stage 0. ``pages`` may be the full
        snapshot or just the changed buckets' complete current rows (rows
        hashing elsewhere are ignored); either way every declared bucket's
        CURRENT content must be fully present. A caller that declares too
        few buckets silently misses that drift — same trust model as
        ``append_pages``'s caller contract. Default (None) infers over the
        whole corpus."""
        if changed_buckets is not None:
            bset = frozenset(int(b) for b in changed_buckets)
            bad = [b for b in bset if not 0 <= b < self.cfg.num_buckets]
            if bad:
                raise ValueError(f"changed_buckets outside range: {bad[:5]}")
            self._changed_buckets = bset
        try:
            if pages is not None:
                try:
                    pstats = self._delta_preconditions(substring_pass)
                    upserts, deletes, expect = self._snapshot_changeset(
                        pages, pstats
                    )
                    return self._apply_changeset(
                        upserts, deletes, substring_pass, expect
                    )
                except AppendRefusedError:
                    pass  # nothing mutated: heal through the resume path
            return self.run(pages, resume=True, substring_pass=substring_pass)
        finally:
            self._changed_buckets = None

    def _snapshot_changeset(
        self, pages: DataFrame, pstats: dict[int, tuple[int, int]]
    ) -> tuple[DataFrame | None, list[str] | None, dict]:
        """The snapshot diff behind ``run_incremental``: ``pages`` (the full
        current snapshot) against the pages view and its committed lineage
        ``pstats`` → ``(upserts, deletes, expect)`` for ``_apply_changeset``.

        1. ONE probe: the snapshot left-joined to the pages view's urls,
           aggregated per bucket into (rows, Σ xxhash64(url, text)), the
           new-url share of both, and the distinct url count — a repeated
           url raises ``ValueError``. A bucket whose OLD share still equals
           its committed stats changed by appends only: an edit keeps the
           url but shifts the checksum, a delete drops the row count
           (collision odds 2^-64 per bucket, see ``_input_stats``). Its
           new-url rows are the appends.
        2. Only the buckets failing that identity pay a content join: the
           snapshot's (url, xxhash64(url, text)) outer-joined to the pages
           view's, partition-pruned to those buckets (``content_diff``;
           appends are already known from step 1). It yields the
           edited rows (upserts that replace) and the deleted urls. A pure
           append never reads ``pages.text``.
        3. ``expect`` = the probe's per-bucket snapshot stats over every
           checked bucket: the core refuses unless its merged lineage
           reproduces them exactly."""
        from near_duplicate_detection_spark.operators.delta import content_diff

        snap = (
            self._restrict_changed(pages)
            .withColumn("bucket", self._bucket_expr())
            .withColumn("h", F.xxhash64("url", "text"))
        )
        corpus = self._restrict_changed(self.pages_table(), "bucket")
        marked = snap.join(
            corpus.select("url", F.lit(True).alias("_old")), "url", "left"
        )
        is_new = F.col("_old").isNull()
        dec = F.col("h").cast("decimal(38,0)")
        zero = F.lit(0).cast("decimal(38,0)")
        agg = (
            marked.groupBy("bucket")
            .agg(
                F.count("*").alias("rows"),
                F.sum(dec).alias("cks"),
                F.sum(F.when(is_new, 1).otherwise(0)).alias("new_rows"),
                F.sum(F.when(is_new, dec).otherwise(zero)).alias("new_cks"),
                F.countDistinct("url").alias("urls"),
            )
            .collect()
        )
        if any(r["rows"] != r["urls"] for r in agg):
            raise ValueError(
                "snapshot repeats a url (urls are the corpus primary key)"
            )
        totals = {
            int(r["bucket"]): (
                int(r["rows"]), int(r["cks"]), int(r["new_rows"]),
                int(r["new_cks"]),
            )
            for r in agg
        }
        check = set(totals) | {b for b, s in pstats.items() if s != (0, 0)}
        if self._changed_buckets is not None:
            check &= self._changed_buckets
        expect, drifted = {}, []
        for b in sorted(check):
            rows, cks, new_rows, new_cks = totals.get(b, (0, 0, 0, 0))
            expect[b] = (rows, _wrap64(cks))
            old = (rows - new_rows, _wrap64(cks - new_cks))
            if old != pstats.get(b, (0, 0)):
                drifted.append(b)
        upserts = deletes = None
        if sum(t[2] for t in totals.values()):
            upserts = marked.where(is_new).drop("_old", "bucket", "h")
        if drifted:
            in_drifted = F.col("bucket").isin(drifted)
            gone = content_diff(
                snap.where(in_drifted),
                corpus.where(in_drifted).select(
                    "url", F.xxhash64("url", "text").alias("h")
                ),
            ).localCheckpoint()
            # bounded collect: over max_retract the core refuses anyway
            rows = gone.select("url", F.col("h").isNull().alias("deleted")).take(
                self.cfg.max_retract + 1
            )
            deletes = [r["url"] for r in rows]
            if not all(r["deleted"] for r in rows):
                edited = gone.where(F.col("h").isNotNull()).drop(
                    "h_old", "bucket", "h"
                )
                upserts = (
                    edited if upserts is None else upserts.unionByName(edited)
                )
        return upserts, deletes, expect

    @staticmethod
    def _refuse(why: str):
        raise AppendRefusedError(
            f"{why} — fall back to run_incremental(full_snapshot) "
            "(or run() for a rebuild)"
        )

    def _delta_preconditions(
        self, substring_pass: bool
    ) -> dict[int, tuple[int, int]]:
        """Shared refusal gate of the O(change) paths: ``run_incremental``
        calls it before its snapshot diff, and ``_apply_changeset`` (behind
        ``append_pages`` / ``delete_pages`` / ``update_pages``) before its
        first mutation. The catalog must be a committed, CURRENT build with
        healthy delta state — pages/signatures lineage consistent, pairs
        (and substring_pairs, when ``substring_pass``) committed under the
        current run hashes (a full stage-2/2b rewrite invalidates its
        lineage before its first mutation, so a killed rewrite refuses
        here), clusters committed under the current stage-3 run hash (a
        killed full build leaves them lagging with no marker up), no crash
        marker. Every check is footer/lineage-level (zero Spark jobs).
        Raises ``AppendRefusedError`` (nothing mutated); returns the
        committed per-bucket pages stats."""
        cfg, cat, refuse = self.cfg, self.catalog, self._refuse
        if self._delta_suspect():
            refuse("crash marker up (a prior retraction/delta was killed)")
        h1 = cfg.stage1_hash()
        pstats = cat.latest_partition_stats("pages", h1)
        if not pstats:
            refuse("no committed pages lineage under the current params")
        sstats = cat.latest_partition_stats("signatures", h1)
        stale = [
            b
            for b in range(cfg.num_buckets)
            if pstats.get(b, (0, 0)) != (0, 0)
            and sstats.get(b) != pstats.get(b)
        ]
        if stale:
            refuse(f"signatures lag pages in buckets {stale[:5]}")
        if not (cat.exists("reps") and cat.exists("pairs")):
            refuse("no stage-2 delta state (reps/pairs)")
        if not cat.completed_partitions("pairs", self.stage2_run_hash()):
            refuse("pairs not committed under the current run hash")
        if substring_pass:
            if not (
                cat.exists("window_index") and cat.exists("substring_pairs")
            ):
                refuse("no stage-2b delta state")
            if not cat.completed_partitions(
                "substring_pairs", self.stage2b_run_hash()
            ):
                refuse("substring_pairs not committed under the current run hash")
        if not (
            cat.exists("clusters")
            and cat.completed_partitions("clusters", self.stage3_run_hash())
        ):
            refuse("clusters not committed under the current run hash")
        return pstats

    def _conform_to_pages(self, rows: DataFrame) -> DataFrame:
        """``rows`` shaped to the stored pages column set, so every pages
        file carries ONE schema (a reader infers it from a single file, and
        ``compact()`` rewrites buckets from that view): stored columns the
        rows lack are null-filled, passthrough columns they carry are kept
        (cast to the stored type), other columns are dropped. The stored set
        comes from a driver-side parquet footer read — no Spark job."""
        import pyarrow.dataset as pads
        from pyspark.sql.pandas.types import from_arrow_type

        stored = pads.dataset(self.catalog.path("pages"), format="parquet")
        have = set(rows.columns)
        return rows.select(
            *(
                (F.col(f.name) if f.name in have else F.lit(None))
                .cast(from_arrow_type(f.type))
                .alias(f.name)
                for f in stored.schema
                if f.name not in ("bucket", "era")
            )
        )

    def _apply_changeset(
        self,
        upserts: DataFrame | None,
        deletes: list[str] | DataFrame | None,
        substring_pass: bool,
        expect: dict[int, tuple[int, int]] | None = None,
    ) -> DataFrame:
        """The one changeset core behind ``append_pages``, ``delete_pages``,
        ``update_pages`` and ``run_incremental``'s delta path.

        ``upserts``: rows to add — (url, text) plus any passthrough columns
        of the stored pages schema. Their urls must be new unless listed in
        ``deletes``, in which case they REPLACE the committed row (an
        update); new urls are not probed — proving novelty is the O(corpus)
        scan an explicit append exists to skip. ``deletes``: urls whose
        committed rows die (deleted and updated urls); each must exist.
        ``expect``: per-bucket (rows, checksum) the merged lineage must
        reproduce (the snapshot diff's identity guard). Every refusal
        raises ``AppendRefusedError`` before the first mutation.

        Plan — an empty half skips its work, so a pure append runs no
        existence scan, tombstone or retraction, and a pure delete signs
        nothing:
        - batch prep: ONE materialization of the upserts, bucket-pure, and
          one batch-sized job for per-bucket (rows, checksum, distinct
          urls) — in-batch duplicate urls refuse;
        - ONE existence scan over only the buckets holding deleted urls
          (partition-pruned pages view, broadcast semi-join): per-bucket
          stats of the dying rows;
        - lineage merged once: committed − dying rows + upserts (mod-2^64
          checksum algebra; bucket = f(url), so a replaced row re-enters
          its own bucket);
        - retraction, merge-on-read: the mapping of the dying urls is read
          first (``_retraction_mapping``), then the era bumps ONCE and ONE
          ``retract_patch`` log file holds the mapping at that era (rows
          stamped AT the era are the re-adds and survive —
          operators/mor.py); it governs pages, signatures and the six
          stage-2/2b tables. Past ``retract_patch_ceiling`` stored log rows,
          ``_fold`` reclaims them physically;
        - stages 0/1: the pages append, then the batch signing +
          signatures append — no bucket is rewritten;
        - stage 2: ``stage2_pairs_delta`` (the append, under the one final
          run hash); stage 2b: ``stage2b_delta``; stage 3:
          ``stage3_clusters_delta``, handed the change in memory — the two
          deltas' appended pair keys, the batch's urls and the retracted
          urls — or the full CC over the committed edge tables past its
          broadcast ceilings. An empty changeset runs no stage.

        Crash protocol: ONE ``delta.inflight`` bracket, set before the first
        table mutation and cleared after the clusters commit; after a crash
        every delta entry refuses and ``run_incremental(full_snapshot)``
        heals through a full rebuild."""
        import pyarrow as pa

        cfg, cat, refuse = self.cfg, self.catalog, self._refuse
        h1 = cfg.stage1_hash()
        pstats = self._delta_preconditions(substring_pass)

        new_rows, add_stats = None, {}
        if upserts is not None:
            new_rows = (
                self._conform_to_pages(upserts)
                .withColumn("bucket", self._bucket_expr())
                .withColumn("h", F.xxhash64("url", "text"))
                .repartition("bucket")
                .localCheckpoint()
            )
            # urls hash-partition by bucket, so the per-bucket distinct
            # counts sum to the global distinct count
            agg = (
                new_rows.groupBy("bucket")
                .agg(
                    F.count("*").alias("rows"),
                    F.sum(F.col("h").cast("decimal(38,0)")).alias("cks"),
                    F.countDistinct("url").alias("urls"),
                )
                .collect()
            )
            if any(r["rows"] != r["urls"] for r in agg):
                refuse("batch contains duplicate urls")
            add_stats = {
                int(r["bucket"]): (int(r["rows"]), _wrap64(int(r["cks"])))
                for r in agg
            }
            if not add_stats:
                new_rows = None
        n_up = sum(r for r, _ in add_stats.values())

        if isinstance(deletes, DataFrame):
            deletes = [
                r["url"]
                for r in deletes.select("url")
                .distinct()
                .limit(cfg.max_retract + 1)
                .collect()
            ]
        gone = sorted(set(deletes or ()))
        if len(gone) > cfg.max_retract:
            refuse(
                f"retraction of {len(gone)} urls exceeds max_retract="
                f"{cfg.max_retract} (broadcast-mapping ceiling)"
            )
        del_stats: dict[int, tuple[int, int]] = {}
        if gone:
            gone_df = local_frame(
                self.spark, [(u,) for u in gone], "url string"
            )
            # pages urls are unique by build invariant, so the matched-row
            # count is the number of handed urls actually present
            del_stats = {
                int(r["bucket"]): (int(r["rows"]), _wrap64(int(r["cks"])))
                for r in self.pages_table()
                .where(F.col("bucket").isin(sorted(self._buckets_of(gone))))
                .join(F.broadcast(gone_df), "url", "left_semi")
                .withColumn("h", F.xxhash64("url", "text"))
                .groupBy("bucket")
                .agg(
                    F.count("*").alias("rows"),
                    F.sum(F.col("h").cast("decimal(38,0)")).alias("cks"),
                )
                .collect()
            }
            n_found = sum(r for r, _ in del_stats.values())
            if n_found != len(gone):
                refuse(
                    f"{len(gone) - n_found} of the handed urls are not in "
                    "the corpus"
                )
            if any(b not in pstats for b in del_stats):
                refuse("retracted rows found in buckets with no committed lineage")
        merged = {}
        for b in set(add_stats) | set(del_stats):
            rows, cks = pstats.get(b, (0, 0))
            d, a = del_stats.get(b, (0, 0)), add_stats.get(b, (0, 0))
            merged[b] = (rows - d[0] + a[0], _wrap64(cks - d[1] + a[1]))
        if expect is not None and any(
            merged.get(b, pstats.get(b, (0, 0))) != s for b, s in expect.items()
        ):
            refuse("changeset does not reproduce the snapshot's bucket stats")

        if not merged:
            return self.clusters_view()
        t0 = time.monotonic()
        mapping, era = {}, None
        if gone:
            mapping = self._retraction_mapping(gone)
            era = self._bump_retract_era()
        self._set_marker("delta.inflight")
        if gone:
            cat._append_small(
                mor.PATCH_TABLE,
                pd.DataFrame(
                    [(u, nu, era) for u, nu in sorted(mapping.items())],
                    columns=["url", "new_url", "era"],
                ),
                pa.schema(
                    [("url", pa.string()), ("new_url", pa.string()),
                     ("era", pa.int64())]
                ),
            )
            log_rows = cat.count_rows(mor.PATCH_TABLE)
            fold = log_rows > cfg.retract_patch_ceiling
            if fold:
                self._fold()
            cat.add_metrics(
                "pairs",
                {
                    "retracted_docs": len(gone),
                    "retract_mor_commit": 0 if fold else 1,
                    "retract_fold": 1 if fold else 0,
                    "retract_patch_rows": 0 if fold else log_rows,
                },
            )

        def commit(table: str, rows: DataFrame | None) -> None:
            if rows is not None:
                cat.write(
                    self._stamp_era(rows),
                    table,
                    partition_by=["bucket"],
                    mode="append",
                    max_records_per_file=2048,
                )
            cat.mark_complete(
                table,
                h1,
                {b: m[0] for b, m in merged.items()},
                int((time.monotonic() - t0) * 1000),
                checksums={b: m[1] for b, m in merged.items()},
            )

        commit("pages", None if new_rows is None else new_rows.drop("h"))
        # sign ONLY the batch (partitions stay bucket-pure through the Arrow
        # map, so the partitioned append is fan-out-free)
        new_sigs = None
        if new_rows is not None:
            new_sigs = (
                new_rows.select("url", "text")
                .mapInPandas(signature_map_fn(cfg), schema=SIGNATURE_SCHEMA)
                .withColumn("bucket", self._bucket_expr())
                .localCheckpoint()
            )
        commit("signatures", new_sigs)
        wall_ms = int((time.monotonic() - t0) * 1000)
        cat.add_metrics(
            "pages",
            {
                "buckets_appended": len(add_stats),
                "buckets_rewritten": 0,
                "appended_docs_ingested": n_up,
                # retracted rows: deleted AND replaced urls
                "deleted_docs": len(gone),
                "wall_ms": wall_ms,
            },
        )
        cat.add_metrics(
            "signatures",
            {
                "buckets_computed": 0,
                "buckets_appended": len(add_stats),
                "appended_docs_signed": n_up,
                "wall_ms": wall_ms,
            },
        )

        def edge_rows() -> int:
            # footer reads: the deltas only append, so the difference is
            # the new-edge count with no Spark job
            return sum(
                cat.count_rows(t)
                for t in ("pairs", "substring_pairs")
                if cat.exists(t)
            )

        n_edges_before = edge_rows()
        appended = self.stage2_pairs_delta(
            None
            if new_sigs is None
            else new_sigs.select("url", "fp", "bands", "simhash"),
            n_up,
        )
        new_rep_urls, new_edges = appended or (None, None)
        if substring_pass:
            hits = self.stage2b_delta(
                new_rep_urls,
                None if new_rows is None else new_rows.select("url", "text"),
                new_edges,
            )
            if hits is not None:
                new_edges = new_edges.unionByName(hits)
        if not self.stage3_clusters_delta(
            new_edges,
            None if new_rows is None else new_rows.select("url"),
            sorted(mapping),
            edge_rows() - n_edges_before,
        ):
            # wide merge/dissolve fallback (over the broadcast ceiling):
            # full CC over the committed edge tables, correctness identical
            self.stage3_clusters(resume=False)
        self._clear_marker("delta.inflight")
        return self.clusters_view()

    def append_pages(
        self, new_pages: DataFrame, substring_pass: bool = True
    ) -> DataFrame:
        """O(append) explicit entry point: the caller KNOWS the appended
        rows and hands exactly them (the reference's ``update_index`` with
        explicit videoids, ndd/server_ndd.py:307-315), so no drift is
        inferred. Caller contract: the urls must not exist in the catalog —
        NOT detected (that probe is the O(corpus) scan this path skips; a
        violation surfaces as duplicate urls in ``signatures``/``clusters``);
        in-batch duplicates are refused. Plan, refusals and crash protocol:
        ``_apply_changeset``."""
        return self._apply_changeset(new_pages, None, substring_pass)

    def _buckets_of(self, urls) -> set[int]:
        """The url-hash buckets of driver-known urls: Spark's own xxhash64
        over a projection of a LocalRelation, evaluated without a job."""
        df = local_frame(self.spark, [(u,) for u in urls], "url string")
        rows = df.select(self._bucket_expr().alias("b")).collect()
        return {int(r["b"]) for r in rows}

    def _fold(self, extra_buckets=()) -> dict:
        """The one fold routine (inline past ``retract_patch_ceiling`` and
        in ``compact()``): physically reclaim the ``retract_patch`` log and
        rewrite ``extra_buckets`` of the bucket tables. Runs under the
        caller's ``delta.inflight`` marker.

        - pages / signatures: the buckets holding a logged url, plus
          ``extra_buckets``, are rewritten from their views — one file per
          bucket, row eras kept — and a bucket whose view came out empty is
          dropped (decided from this output: inside a changeset the lineage
          still lags);
        - the four stage-2/2b tables are rewritten from ``stage_view`` with
          a fresh era stamp;
        - the log is removed.

        Pure physical reorganization: every view is row-identical before
        and after, and no lineage row advances. A crash mid-fold leaves the
        views correct (a rewritten row is one its view kept, so the
        remaining log governs it no more than before) and the marker routes
        every delta entry to the full rebuild. Returns ``{table:
        (files_before, files_after)}`` for every table it rewrote."""
        cat = self.catalog
        has_log = cat.exists(mor.PATCH_TABLE)
        buckets = set(extra_buckets)
        if has_log:
            buckets |= self._buckets_of(
                {u for (u,) in cat.read_small_rows(mor.PATCH_TABLE, ["url"])}
            )
        out: dict = {}
        for table, view in (
            ("pages", pages_view),
            ("signatures", signatures_view),
        ):
            if not buckets or not cat.exists(table):
                continue
            before = cat.file_count(table)
            # localCheckpoint: the overwrite replaces partitions the plan
            # reads; repartition: bucket-pure → one file per bucket
            live = (
                view(cat)
                .where(F.col("bucket").isin(sorted(buckets)))
                .repartition("bucket")
                .localCheckpoint()
            )
            kept = {
                r["bucket"] for r in live.select("bucket").distinct().collect()
            }
            cat.write(live, table, partition_by=["bucket"])
            # dynamic overwrite never touches a partition with zero output
            # rows — drop the emptied dirs explicitly
            for b in sorted(buckets - kept):
                cat.drop_partition(table, b)
            out[table] = (before, cat.file_count(table))
        if has_log:
            n_log = cat.count_rows(mor.PATCH_TABLE)
            for table in mor.GOVERNED_TABLES:
                if cat.exists(table):
                    cat.write(
                        self._stamp_era(
                            self.stage_view(table)
                        ).localCheckpoint(),
                        table,
                    )
            out[mor.PATCH_TABLE] = (cat.file_count(mor.PATCH_TABLE), 0)
            shutil.rmtree(cat.path(mor.PATCH_TABLE), ignore_errors=True)
            cat.add_metrics("compaction", {"retract_patch_rows_folded": n_log})
        cat.add_metrics("pages", {"buckets_rewritten": len(buckets)})
        return out

    def delete_pages(
        self,
        urls: list[str] | DataFrame,
        substring_pass: bool = True,
    ) -> DataFrame:
        """O(delete) explicit retraction: the caller KNOWS the deleted urls
        and hands exactly them (the reference's ``update_index`` dropping a
        vanished video's entries by videoid, ndd/server_ndd.py:246-261).
        Every url must exist (the core's existence scan verifies it) and
        zero docs are re-signed. Plan, refusals and crash protocol:
        ``_apply_changeset``."""
        if not isinstance(urls, DataFrame):
            urls = list(urls)
        return self._apply_changeset(None, urls, substring_pass)

    def update_pages(
        self, changed_rows: DataFrame, substring_pass: bool = True
    ) -> DataFrame:
        """O(edit) explicit upsert: the caller hands the NEW rows of docs
        that already exist (the reference's ``update_index`` re-indexing
        explicit videoids, ndd/server_ndd.py:307-315); only the batch is
        signed. Every url must exist and appear once. Plan, refusals and
        crash protocol: ``_apply_changeset``."""
        return self._apply_changeset(
            changed_rows, changed_rows.select("url"), substring_pass
        )

    def compact(self) -> dict:
        """Table maintenance: fold the merge-on-read label patch and rewrite
        fragmented storage — the Iceberg ``rewrite_data_files`` + patch-fold
        analog. Pure physical reorganization: every read view is
        row-identical before and after, and NO lineage row advances (the
        committed content, hence every run hash and per-bucket checksum, is
        untouched — resume stays a no-op).

        Two targets:
        - ``clusters``: when a ``cluster_remap`` or ``cluster_tombstones``
          sidecar exists or any append eras accumulated (each merge-on-read
          commit adds exactly one file), ``_rewrite_clusters`` folds
          ``clusters_view`` — the same routine the full build and the
          append path's fold trigger use. Readers then skip the sidecar
          joins entirely.
        - the ``retract_patch`` log and fragmented buckets: ONE ``_fold``
          call with the buckets of ``pages`` / ``signatures`` holding more
          than one parquet file (every delta append/upsert adds one file
          per touched bucket) — each table is written once, each bucket at
          most once, and the log's governed tables are rewritten from their
          views.

        The changeset core folds clusters on its own once
        ``cfg.clusters_append_ceiling`` eras accumulate; this entry point
        is for operators who want to schedule the rewrite cost off the
        ingest path (the reference has no analog — its index is a single
        pickle rewritten wholesale, ndd/server_ndd.py:246-261).

        Refuses (``AppendRefusedError``, nothing mutated) while a crash
        marker is up — maintenance must not interleave with a crashed
        changeset (a changeset hands stage 3 its change in memory, so none
        is ever left pending between calls). Crash protocol: its own
        ``delta.inflight`` bracket spans both rewrites; a crash leaves the
        marker, all delta entry points refuse, and
        ``run_incremental(full_snapshot)`` heals through a full rebuild,
        exactly as for a crashed changeset.
        Returns ``{table: (files_before, files_after), ...}``."""
        cat, refuse = self.catalog, self._refuse
        if self._delta_suspect():
            refuse("crash marker up (a prior retraction/delta was killed)")
        t0 = time.monotonic()
        out: dict = {}
        fold_clusters = cat.exists("clusters") and (
            cat.exists("cluster_remap")
            or cat.exists("cluster_tombstones")
            or self._append_era() > 0
        )
        frag = set(cat.fragmented_partitions("pages"))
        frag |= set(cat.fragmented_partitions("signatures"))
        if fold_clusters or frag or cat.exists(mor.PATCH_TABLE):
            self._set_marker("delta.inflight")
            if fold_clusters:
                before = cat.file_count("clusters")
                # the view resolves tombstones + label patch → both folded
                self._rewrite_clusters(self.clusters_view())
                out["clusters"] = (before, cat.file_count("clusters"))
            if frag or cat.exists(mor.PATCH_TABLE):
                out.update(self._fold(frag))
            self._clear_marker("delta.inflight")
        # a serving operator who built a band_index wants it to survive
        # maintenance: any bucket rewrite above flipped its source stamp,
        # so refresh it here (off the ingest path — exactly where the
        # rebuild cost belongs). No-op when no index exists or the stamp
        # still matches (nothing above touched signatures).
        from near_duplicate_detection_spark.operators import serving_index as _si

        if cat.exists(_si.BAND_INDEX) and _si.fresh_band_index(cat) is None:
            self.build_serving_index()
            out[_si.BAND_INDEX] = (0, cat.file_count(_si.BAND_INDEX))
        if out:
            flat = {
                f"{t}_files_{w}": v[i]
                for t, v in out.items()
                for i, w in ((0, "before"), (1, "after"))
            }
            flat["wall_ms"] = int((time.monotonic() - t0) * 1000)
            cat.add_metrics("compaction", flat)
        return out

    def build_serving_index(self, partitions: int | None = None) -> None:
        """Materialize the partition-pruned query probe index
        (operators/serving_index.py): ``band_index`` partitioned by
        ``xxhash64(band_hash) % cfg.band_index_partitions``, stamped against
        the current signatures + retract_patch state. ``query_top_k``
        uses it only while that stamp matches — any later commit routes
        queries back to the exact full-view probe, so this is pure derived
        state a serving operator refreshes on their own cadence (the
        natural point is right after ``compact()``)."""
        from near_duplicate_detection_spark.operators.serving_index import (
            build_band_index,
        )

        build_band_index(self.catalog, self.cfg, partitions)


class AppendRefusedError(RuntimeError):
    """``append_pages`` could not run its O(append) plan (stale or crashed
    catalog state, param drift, duplicate urls in the batch). Nothing was
    mutated unless the message says otherwise; recover with
    ``run_incremental(full_snapshot)`` or a full ``run()``."""


def _log_view(catalog: StageCatalog, table: str) -> DataFrame:
    """A bucket table with the ``retract_patch`` log resolved drop-only
    (operators/mor.py): deletes/updates append log entries instead of
    rewriting every affected bucket, and readers drop a row iff some entry
    is newer than it, through one broadcast join against a cached
    LocalRelation (a row written at or after an entry's era is a re-add
    and survives). Physical reclamation happens at the
    ``retract_patch_ceiling`` fold or via ``compact()``."""
    df = catalog.read(table)
    patch = mor.patch_agg(catalog)
    if patch is None:
        return df
    return mor.apply_url_patch(df, patch, drop_only=True)


def pages_view(catalog: StageCatalog) -> DataFrame:
    """The pages table with the retraction log resolved (``_log_view``)."""
    return _log_view(catalog, "pages")


def signatures_view(catalog: StageCatalog) -> DataFrame:
    """The signatures table under the same log governance as
    ``pages_view`` (one row per live url each, written in lockstep)."""
    return _log_view(catalog, "signatures")


def patched_clusters(catalog: StageCatalog) -> DataFrame:
    """The committed clusters VIEW: physical rows plus the merge-on-read
    label patch.

    Stage-3 delta commits never rewrite the corpus-sized clusters table —
    appended rows land as new files and label MERGES land as
    ``cluster_remap`` rows (old_label → new_label), applied here by one
    broadcast join. This is the Iceberg merge-on-read pattern: the one
    rewrite (``NDDPipeline._rewrite_clusters`` — the full build, the
    delta's fold at ``cfg.clusters_append_ceiling`` eras or past
    ``cfg.max_remap`` sidecar rows, and ``compact()``) folds the patch
    into the physical rows and wipes it, so the patch spans at most
    ``clusters_append_ceiling`` commits. The patch is transitively closed
    by construction (composition at every commit), so one join pass fully
    resolves labels; ``is_representative`` is recomputed against the
    patched label.

    Stage-3 RETRACTION commits are merge-on-read too: a dissolved
    cluster's memberships land as ``cluster_tombstones`` rows (url, era)
    and the surviving members' re-labeled rows are appended at the
    retraction's era. A tombstone governs exactly the rows that PREDATE
    it (row.era < tombstone era — operators/mor.py era semantics; the
    newest tombstone per url suffices because a tombstone always kills
    every row alive at its commit). Both sidecars resolve here with one
    broadcast join each; the same rewrite folds and wipes them."""
    df = catalog.read("clusters")
    cols = ("url", "cluster_id", "is_representative")
    tomb = mor.tombstone_agg(catalog)
    if tomb is not None:
        df = mor.apply_tombstones(df, tomb)
    rm = mor.remap_df(catalog)
    if rm is None:
        return df.select(*cols)
    return (
        df.join(F.broadcast(rm), df["cluster_id"] == rm["old_label"], "left")
        .select(
            df["url"],
            F.coalesce(rm["new_label"], df["cluster_id"]).alias("cluster_id"),
        )
        .withColumn("is_representative", F.col("url") == F.col("cluster_id"))
    )


# ---------- flagship read path (reference SURVEY §3.1) ----------


def query_top_k(
    spark: SparkSession,
    catalog: StageCatalog,
    cfg: NDDConfig,
    query_text: str,
    k: int = 30,
) -> DataFrame:
    """Top-k near-duplicates of an ad-hoc text, one per cluster.

    Engine equivalent of the reference's similarity query
    (ndd/server_ndd.py:97-156): signature probe (same UDF as indexing) →
    LSH band broadcast-join (replaces the O(N) matmul) → exact-Jaccard
    verify → keep-first per cluster (W1) → orderBy + limit (W2/W4,
    Catalyst plans TakeOrderedAndProject).

    FRESHNESS CONTRACT (mid-incremental reads): an in-flight
    run_incremental/append_pages commits signatures and pairs BEFORE the
    clusters table advances (and every clusters rewrite swaps in a staged
    ``clusters_next`` dir, so this table is never half-written). A
    query in that window sees the appended docs — they are in the
    signatures index the band probe hits — but not yet in clusters; the
    ``coalesce(cluster_id, url)`` rule below gives each such doc its OWN
    dedup group, so appended docs appear individually (never collapsed
    into one arbitrary group, never silently dropped) and previously
    committed docs keep their committed grouping. Results are therefore
    always a consistent read of "last committed clusters + individually
    listed newer docs" — tests/test_query_freshness.py pins this.
    """
    import numpy as np
    import pandas as pd

    from near_duplicate_detection_spark.functions.hashing import perm_params
    from near_duplicate_detection_spark.functions.signatures import (
        compute_signatures_batch,
    )

    from near_duplicate_detection_spark.functions.signatures import (
        SHINGLE_SET_SCHEMA,
        shingle_sets_map_fn,
    )

    a, b = perm_params(cfg.num_perms)
    qsig = compute_signatures_batch(
        pd.Series(["query://q"]), pd.Series([query_text]), cfg, a, b,
        include_shingles=True,
    )
    q_bands = [
        (i, int(h)) for i, h in enumerate(qsig["bands"].iloc[0])
    ]
    q_shingles = [int(s) for s in qsig["shingles"].iloc[0]]

    from near_duplicate_detection_spark.operators.serving_index import (
        probe_urls,
    )

    # candidate generation: partition-pruned band_index probe when a FRESH
    # index exists (operators/serving_index.py — any commit since its build
    # flips the source stamp and this falls back to the full signatures
    # view), else the exact full-view band join
    candidates = probe_urls(spark, catalog, q_bands)
    # exact verify against candidates only: recompute their shingle sets.
    # The text fetch is partition-pruned (_candidate_texts) — without it
    # this leg full-scanned pages per request, the same corpus-proportional
    # read the band_index removes from the probe side.
    cand_sets = _candidate_texts(spark, catalog, cfg, candidates).mapInPandas(
        shingle_sets_map_fn(cfg), SHINGLE_SET_SCHEMA
    )
    # query shingles ride along as a one-row broadcast, not a literal array
    # expression — a long query text would otherwise bloat the plan tree
    qdf = local_frame(spark, [(q_shingles,)], "q_shingles array<bigint>")
    inter = F.size(F.array_intersect(F.col("shingles"), F.col("q_shingles")))
    union = F.size("shingles") + F.size("q_shingles") - inter
    scored = (
        cand_sets.crossJoin(F.broadcast(qdf))
        .withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .select("url", "jaccard")
    )
    clusters = patched_clusters(catalog).select("url", "cluster_id")
    from pyspark.sql import Window as W

    # candidates missing from a stale/mid-rebuild clusters table must each
    # form their OWN dedup group — partitioning on a raw NULL cluster_id
    # would collapse all of them into one group and keep a single hit
    w = W.partitionBy(F.coalesce("cluster_id", F.col("url"))).orderBy(
        F.desc("jaccard"), F.asc("url")
    )
    return (
        scored.join(clusters, "url", "left")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .orderBy(F.desc("jaccard"), F.asc("url"))
        .limit(k)
    )


def _candidate_texts(
    spark: SparkSession, catalog: StageCatalog, cfg: NDDConfig, candidates
) -> DataFrame:
    """(url, text) for one query's candidate urls, read partition-pruned.

    A single query's candidate set is bounded — each probed (band, hash)
    bucket holds at most ``max_bucket_size`` urls by the ``over_ceiling``
    contract, so |candidates| ≤ lsh_bands × max_bucket_size — small enough
    to collect. The urls' buckets become driver-known literals: a
    ``bucket IN (...)`` filter prunes the pages scan to at most
    |candidates| of ``num_buckets`` directories (directory pruning, the
    same mechanism as the band_index's ``pt IN``), and a broadcast
    semi-join against the collected urls (a LocalRelation — no literal-list
    plan bloat) keeps exactly the candidate rows. Above
    ``cfg.query_collect_ceiling`` (degenerate probe output) this falls back
    to the unpruned semi-join, the right plan at that size; the batch path
    (``query_top_k_batch``) never uses this — its candidates are a
    distributed table and a large batch hits every bucket anyway."""
    full = pages_view(catalog)
    rows = candidates.limit(cfg.query_collect_ceiling + 1).collect()
    if len(rows) > cfg.query_collect_ceiling:
        return full.select("url", "text").join(candidates, "url", "left_semi")
    if not rows:
        return full.select("url", "text").where(F.lit(False))
    urls_df = local_frame(spark, [(r["url"],) for r in rows], "url string")
    # bucket = f(url) through Spark's own xxhash64 (one LocalRelation
    # expression evaluation, no job) so the literals match the partition
    # values stage 0 wrote exactly
    buckets = sorted(
        {
            int(r["b"])
            for r in urls_df.select(
                F.pmod(F.xxhash64("url"), F.lit(cfg.num_buckets))
                .cast("int")
                .alias("b")
            ).collect()
        }
    )
    return (
        full.where(F.col("bucket").isin(buckets))
        .join(F.broadcast(urls_df), "url", "left_semi")
        .select("url", "text")
    )


def query_top_k_batch(
    spark: SparkSession,
    catalog: StageCatalog,
    cfg: NDDConfig,
    queries: DataFrame,
    k: int = 30,
) -> DataFrame:
    """Top-k near-duplicates for a whole TABLE of queries in one plan.

    The reference serves one query per HTTP request (ndd/server_ndd.py:
    271-306, an O(N) scan each); the Spark-native generalization signs every
    query with the SAME distributed Arrow UDF used for indexing, then
    resolves all of them with two equi-joins:

      queries --mapInPandas--> query signatures
        bands  ⋈  index bands      → (query_id, url) candidates
        shingles ⋈ candidate sets  → exact Jaccard per (query_id, url)
      window (query_id, cluster) keep-first → window query_id top-k

    Everything scales with candidates, not queries × corpus: the band join
    is an equi-join Catalyst is free to broadcast (few queries) or shuffle
    (query table as big as the index — e.g. corpus-vs-corpus linking); the
    verify shingle sets are computed once per DISTINCT candidate url across
    all queries.

    queries: DataFrame(query_id string, text string) → DataFrame(query_id,
    url, jaccard, cluster_id, rank), rank 1..k per query, one hit per
    cluster per query (W1 semantics).
    """
    from pyspark.sql import Window as W

    from near_duplicate_detection_spark.functions.signatures import (
        SHINGLE_SET_SCHEMA,
        SIGNATURE_SCHEMA,
        shingle_sets_map_fn,
        signature_map_fn,
    )
    from near_duplicate_detection_spark.operators.lsh import explode_bands

    q = queries.select(F.col("query_id").alias("url"), "text")
    qsigs = q.mapInPandas(signature_map_fn(cfg), SIGNATURE_SCHEMA)
    q_bands = explode_bands(qsigs).select(
        F.col("url").alias("query_id"), "band_id", "band_hash"
    )
    q_sets = q.mapInPandas(shingle_sets_map_fn(cfg), SHINGLE_SET_SCHEMA).select(
        F.col("url").alias("query_id"), F.col("shingles").alias("q_shingles")
    )

    candidates = (
        explode_bands(signatures_view(catalog))
        .join(q_bands, ["band_id", "band_hash"])
        .select("query_id", "url")
        .distinct()
    )
    # verify sets once per distinct candidate url (shared across queries)
    cand_sets = (
        pages_view(catalog)
        .select("url", "text")
        .join(candidates.select("url").distinct(), "url", "left_semi")
        .mapInPandas(shingle_sets_map_fn(cfg), SHINGLE_SET_SCHEMA)
    )
    inter = F.size(F.array_intersect(F.col("shingles"), F.col("q_shingles")))
    union = F.size("shingles") + F.size("q_shingles") - inter
    scored = (
        candidates.join(cand_sets, "url")
        .join(q_sets, "query_id")
        .withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .select("query_id", "url", "jaccard")
    )
    clusters = patched_clusters(catalog).select("url", "cluster_id")
    # same unclustered-candidate rule as query_top_k: NULL cluster_id rows
    # each keep their own group rather than sharing one NULL partition
    w_cluster = W.partitionBy(
        "query_id", F.coalesce("cluster_id", F.col("url"))
    ).orderBy(F.desc("jaccard"), F.asc("url"))
    w_rank = W.partitionBy("query_id").orderBy(F.desc("jaccard"), F.asc("url"))
    return (
        scored.join(clusters, "url", "left")
        .withColumn("rn", F.row_number().over(w_cluster))
        .where(F.col("rn") == 1)
        .withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= k)
        .drop("rn")
    )
