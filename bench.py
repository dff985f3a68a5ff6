"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Headline = the engine's own three-stage dedup build over a deterministic
synthetic pages table scaled by sf (the north-rule workload), plus
representative contract queries over the driver tables at the sf dir.
Extra keys (dedup_docs, dedup_docs_per_sec) quantify dedup throughput.

The sandbox host's CPU/memory supply fluctuates in minutes-long episodes
(same leg varies 2-5x between back-to-back runs — see BENCH/BASELINE.md),
so each leg is timed up to SPARK_GRAFT_BENCH_PASSES times (default 2) and
the per-leg MINIMUM is reported: the min is the closest observable to an
unthrottled run. A repeat pass is skipped when the first pass already
exceeds a wall guard, so a slow episode can't double the total runtime.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

# skip the repeat pass if the first pass exceeded this (a slow-episode run
# must not double; a healthy run is far below it). Guards scale with sf:
# the constants are calibrated at sf=0.1 and the workload is linear in sf.
PIPELINE_GUARD_S = 240.0
QUERIES_GUARD_S = 120.0


def _guard(base_s: float, sf: float) -> float:
    return base_s * max(sf / 0.1, 1.0)


def _run_pipeline(
    spark, cfg, n_docs, timings: dict[str, float], keep: bool = False
) -> str | None:
    from near_duplicate_detection_spark.pipeline import NDDPipeline
    from near_duplicate_detection_spark.sources.pages import generate_pages

    base = tempfile.mkdtemp(prefix="ndd_bench_")
    ok = False
    try:
        pipe = NDDPipeline(spark, cfg, base)
        for key, step in (
            ("dedup_ingest", lambda: pipe.stage0_ingest(
                generate_pages(spark, n_docs), resume=False)),
            ("dedup_stage1_signatures", lambda: pipe.stage1_signatures(resume=False)),
            ("dedup_stage2_lsh_verify", lambda: pipe.stage2_pairs(resume=False)),
            ("dedup_stage2b_substring", lambda: pipe.stage2b_substring(resume=False)),
            ("dedup_stage3_clusters", lambda: pipe.stage3_clusters(resume=False)),
        ):
            t0 = time.monotonic()
            step()
            dt = round(time.monotonic() - t0, 3)
            timings[key] = min(timings.get(key, dt), dt)
        ok = True
        return base if keep else None
    finally:
        # keep=True passes must still clean up after a mid-stage failure
        if not (keep and ok):
            shutil.rmtree(base, ignore_errors=True)


def _timed_leg(spark, cfg, base: str, fn, n_docs: int, passes: int) -> tuple:
    """min-of-passes wall for one incremental leg. Each pass runs ``fn(pipe)``
    against a fresh HARDLINK copy of the kept catalog (incremental paths only
    add files or rewrite whole table dirs via fresh writes; nothing mutates
    parquet bytes in place, so the copies share bytes safely); the repeat is
    skipped when the first pass already exceeds the wall guard."""
    import subprocess

    from near_duplicate_detection_spark.pipeline import NDDPipeline

    walls = []
    for i in range(max(passes, 1)):
        work = f"{base}_leg{i}"
        shutil.rmtree(work, ignore_errors=True)
        subprocess.run(["cp", "-al", base, work], check=True)
        try:
            pipe = NDDPipeline(spark, cfg, work)
            t0 = time.monotonic()
            fn(pipe)
            walls.append(time.monotonic() - t0)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if walls[-1] > _guard(PIPELINE_GUARD_S, n_docs / 400_000):
            break
    return min(walls), len(walls)


def _measure_incremental(
    spark,
    cfg,
    base: str,
    n_docs: int,
    passes: int = 2,
    only: tuple[str, ...] | None = None,
) -> dict:
    """Incremental-path legs — reported OUTSIDE the headline total (they
    measure the change paths, not the full-build throughput the baseline
    compares). Four legs, min-of-passes each:

      incremental_append_sec   run_incremental on a 110% snapshot (the engine
                               INFERS the 10% append — control-plane scans
                               of the corpus included)
      append_pages_sec         the same 10% batch via append_pages (caller
                               hands exactly the appended rows — the
                               O(append) entry point; the gap between these
                               two legs is the price of drift inference)
      retract_edit_sec         run_incremental on a snapshot where ~10% of
                               docs changed text (targeted retraction +
                               re-append path)
      update_pages_sec         the same ~10% edit via update_pages (caller
                               hands exactly the changed rows — only the
                               batch passes the signature UDF; the gap vs
                               retract_edit_sec is the inferred path's
                               corpus re-sign)
      retract_delete_sec       run_incremental on a snapshot with ~10% of
                               docs removed (targeted retraction, dissolve +
                               re-cluster path)
      delete_pages_sec         the same ~10% delete via delete_pages (caller
                               hands exactly the deleted urls — one
                               retract_patch log append, zero bucket
                               rewrites, zero re-signing)
    """
    from pyspark.sql import functions as F

    from near_duplicate_detection_spark.sources.pages import generate_pages

    n_after = int(n_docs * 1.1)
    appended = n_after - n_docs
    # ~10% pseudo-random subset, deterministic in the url
    is_touched = F.pmod(F.xxhash64("url"), F.lit(10)) == 0
    out: dict = {"incremental_appended_docs": appended}
    legs = (
        (
            "incremental_append_sec",
            lambda p: p.run_incremental(generate_pages(spark, n_after)),
        ),
        (
            "append_pages_sec",
            lambda p: p.append_pages(
                generate_pages(spark, n_after, start=n_docs)
            ),
        ),
        (
            "retract_edit_sec",
            lambda p: p.run_incremental(
                generate_pages(spark, n_docs).withColumn(
                    "text",
                    F.when(
                        is_touched, F.concat(F.col("text"), F.lit(" zzedit"))
                    ).otherwise(F.col("text")),
                )
            ),
        ),
        (
            "update_pages_sec",
            lambda p: p.update_pages(
                generate_pages(spark, n_docs)
                .where(is_touched)
                .withColumn(
                    "text", F.concat(F.col("text"), F.lit(" zzedit"))
                )
            ),
        ),
        (
            "retract_delete_sec",
            lambda p: p.run_incremental(
                generate_pages(spark, n_docs).where(~is_touched)
            ),
        ),
        (
            "delete_pages_sec",
            lambda p: p.delete_pages(
                generate_pages(spark, n_docs).where(is_touched).select("url")
            ),
        ),
    )
    try:
        for key, fn in legs:
            if only is not None and key not in only:
                continue
            try:
                wall, n_passes = _timed_leg(spark, cfg, base, fn, n_docs, passes)
                out[key] = round(wall, 3)
                out[key + "_passes"] = n_passes
            except Exception as e:  # noqa: BLE001
                out[key + "_skipped"] = f"error: {e}"[:200]
        if "incremental_append_sec" in out:
            out["incremental_docs_per_sec"] = round(
                appended / out["incremental_append_sec"], 1
            )
        if "append_pages_sec" in out:
            out["append_pages_docs_per_sec"] = round(
                appended / out["append_pages_sec"], 1
            )
        return out
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _measure_queries(spark, cfg, base: str, n_docs: int, passes: int) -> dict:
    """Serving-path legs over the kept catalog — reported OUTSIDE the
    headline total. The reference is itself a query server whose per-request
    cost is one O(N) matmul + full argsort over the whole index
    (/root/reference/ndd/server_ndd.py:271-306); these legs measure the
    engine's band-probe replacements:

      query_batch_sec / query_batch_qps   query_top_k_batch over ~n/40
                                          near-dup queries (perturbed corpus
                                          texts) resolved in ONE plan — two
                                          equi-joins, verify sets computed
                                          once per distinct candidate
      query_single_sec                    one ad-hoc query_top_k round trip
                                          (the serving loop's per-request
                                          latency, dominated by fixed plan/
                                          job overhead at this scale)
      band_index_build_sec                one build_serving_index() pass
      query_single_indexed_sec            the same round trip over the fresh
                                          band_index (pt IN directory prune;
                                          the WIN is the scan no longer
                                          growing with the corpus — at bench
                                          scale fixed job overhead dominates
                                          both variants)

    Query legs are read-only; the index build writes only derived state the
    incremental legs' hardlink copies tolerate (any later commit flips its
    stamp to fallback). Min-of-passes like every other leg.
    """
    from pyspark.sql import functions as F

    from near_duplicate_detection_spark.pipeline import (
        NDDPipeline,
        query_top_k,
        query_top_k_batch,
    )
    from near_duplicate_detection_spark.sources.pages import doc_tokens, generate_pages

    n_queries = max(n_docs // 40, 100)
    step = max(n_docs // n_queries, 1)
    queries = (
        generate_pages(spark, n_docs)
        .where(F.pmod(F.xxhash64("url"), F.lit(step)) == 0)
        .select(
            F.col("url").alias("query_id"),
            F.concat(F.col("text"), F.lit(" zzq")).alias("text"),
        )
    )
    n_queries = queries.count()
    single_text = " ".join(doc_tokens(3)[0])
    out: dict = {"query_batch_queries": n_queries}
    pipe = NDDPipeline(spark, cfg, base)
    cat = pipe.catalog

    def timed(key, fn):
        walls = []
        for _ in range(max(passes, 1)):
            t0 = time.monotonic()
            fn()
            walls.append(time.monotonic() - t0)
            if walls[-1] > _guard(QUERIES_GUARD_S, n_docs / 400_000):
                break
        out[key] = round(min(walls), 3)

    timed(
        "query_batch_sec",
        lambda: query_top_k_batch(spark, cat, cfg, queries, k=10)
        .write.format("noop")
        .mode("overwrite")
        .save(),
    )
    timed(
        "query_single_sec",
        lambda: query_top_k(spark, cat, cfg, single_text, k=10).collect(),
    )
    timed("band_index_build_sec", pipe.build_serving_index)
    timed(
        "query_single_indexed_sec",
        lambda: query_top_k(spark, cat, cfg, single_text, k=10).collect(),
    )
    _band_index_prune_evidence(spark, cfg, cat, single_text, out)
    _serving_stream_leg(spark, cfg, cat, queries, out)
    if "query_batch_sec" in out:
        out["query_batch_qps"] = round(n_queries / out["query_batch_sec"], 1)
    return out


def _band_index_prune_evidence(spark, cfg, cat, single_text: str, out: dict):
    """I/O evidence for the pt-pruned probe (round-4 verdict What's-wrong
    #2): at bench scale the WALL of `query_single_indexed_sec` is fixed
    job/stamp overhead, so the prune's win is stated in SCAN terms — the
    single query's band hashes select <= lsh_bands of the P `pt=` dirs,
    and parquet partition pruning reads only those files. Reported as
    files-probed / files-total so BENCH and BASELINE.md tell one story:
    the indexed probe's read set is O(bands), the fallback's is O(corpus),
    and wall parity at 40k docs is the expected fixed-cost floor."""
    try:
        import pandas as pd

        from near_duplicate_detection_spark.functions.hashing import (
            perm_params,
        )
        from near_duplicate_detection_spark.functions.signatures import (
            compute_signatures_batch,
        )
        from near_duplicate_detection_spark.operators import (
            serving_index as _si,
        )

        fresh = _si.fresh_band_index(cat)
        if fresh is None:
            out["band_index_prune"] = "index not fresh"
            return
        _idx, P = fresh
        a, b = perm_params(cfg.num_perms)
        qsig = compute_signatures_batch(
            pd.Series(["query://q"]), pd.Series([single_text]), cfg, a, b
        )
        hashes = sorted({int(h) for h in qsig["bands"].iloc[0]})
        pts = set(_si._pt_values(spark, hashes, P))
        root = cat.path(_si.BAND_INDEX)

        def _pq(d):
            p = os.path.join(root, d)
            return [f for f in os.listdir(p) if f.endswith(".parquet")]

        pt_dirs = [d for d in os.listdir(root) if d.startswith("pt=")]
        probed_dirs = [
            d for d in pt_dirs if int(d.split("=", 1)[1]) in pts
        ]
        files_total = sum(len(_pq(d)) for d in pt_dirs)
        files_probed = sum(len(_pq(d)) for d in probed_dirs)
        out["band_index_pt_dirs_total"] = len(pt_dirs)
        out["band_index_pt_dirs_probed"] = len(probed_dirs)
        out["band_index_files_total"] = files_total
        out["band_index_files_probed"] = files_probed
        out["band_index_scan_frac"] = round(
            files_probed / max(files_total, 1), 4
        )
    except Exception as e:  # never break the bench JSON
        out["band_index_prune"] = f"error: {e}"[:200]


def _serving_stream_leg(spark, cfg, cat, queries_df, out: dict):
    """Continuous-serving micro-batch leg (round-4 verdict next-round #5):
    drip N_STREAM queries through streaming/serving.serve_queries as
    DROPS one-file micro-batches (maxFilesPerTrigger=1, availableNow) and
    measure drain wall → qps + mean per-batch latency. One pass (the
    streaming checkpoint is single-use); the batch-path legs above carry
    the min-of-passes discipline."""
    N_STREAM, DROPS = 100, 5
    tmpd = tempfile.mkdtemp(prefix="ndd_serve_bench_")
    try:
        from near_duplicate_detection_spark.streaming.serving import (
            QUERY_SCHEMA,
            serve_queries,
        )

        qdir = os.path.join(tmpd, "q")
        rows = [
            (r["query_id"], r["text"])
            for r in queries_df.limit(N_STREAM).collect()
        ]
        # last drop takes the remainder so EVERY collected row is written —
        # the reported queries/qps must count exactly what was served
        per = max(len(rows) // DROPS, 1)
        n_drops = 0
        for i in range(DROPS):
            hi = len(rows) if i == DROPS - 1 else (i + 1) * per
            chunk = rows[i * per : hi]
            if not chunk:
                continue
            n_drops += 1
            spark.createDataFrame(chunk, QUERY_SCHEMA).coalesce(
                1
            ).write.mode("append").parquet(qdir)
        stream = (
            spark.readStream.schema(QUERY_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(qdir)
        )
        t0 = time.monotonic()
        q = serve_queries(
            spark,
            cat,
            cfg,
            stream,
            os.path.join(tmpd, "out"),
            os.path.join(tmpd, "ckpt"),
            k=10,
            available_now=True,
        )
        if not q.awaitTermination(600):
            q.stop()
            out["serving_stream"] = "timeout"
            return
        wall = time.monotonic() - t0
        out["serving_stream_queries"] = len(rows)
        out["serving_stream_batches"] = n_drops
        out["serving_stream_sec"] = round(wall, 3)
        out["serving_stream_qps"] = round(len(rows) / wall, 1)
        out["serving_stream_batch_latency_sec"] = round(
            wall / max(n_drops, 1), 3
        )
    except Exception as e:
        out["serving_stream"] = f"error: {e}"[:200]
    finally:
        shutil.rmtree(tmpd, ignore_errors=True)


CONTRACT_QUERIES = (
    "window_dedup_topk",
    "two_level_minmax",
    "interval_join",
    "sessionize",
    "embedding_knn_bruteforce",
    "ngram_jaccard_pairs",
    "lsh_candidate_pairs",
    "near_dup_clusters",
    "ann_ivf_topk",
)


def _run_queries(spark, sf_dir, timings: dict[str, float]) -> None:
    from near_duplicate_detection_spark.plans.contract import QUERIES

    for name in CONTRACT_QUERIES:
        t0 = time.monotonic()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = round(time.monotonic() - t0, 3)
        timings[name] = min(timings.get(name, dt), dt)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    passes = max(int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2")), 1)
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    from near_duplicate_detection_spark.config import NDDConfig
    from near_duplicate_detection_spark.session import get_spark

    spark = get_spark(app_name="ndd-bench", master=f"local[{cpus}]")
    from near_duplicate_detection_spark.functions.signatures import prewarm_workers

    prewarm_workers(spark)  # untimed cluster warmup (see function docstring)
    timings: dict[str, float] = {}

    # ---- headline: full near-dup pipeline over synthetic pages (~400k*sf docs)
    # SPARK_GRAFT_DOCS overrides the dedup corpus size independently of the
    # sf dir (the driver tables only go up to sf0.1 — a scale-bumped dedup
    # run reuses the sf0.1 tables for the contract-query legs)
    n_docs = int(
        os.environ.get("SPARK_GRAFT_DOCS", max(int(400_000 * sf), 2_000))
    )
    cfg = NDDConfig()
    pass_counts = {"pipeline": 1, "queries": 1}
    t0 = time.monotonic()
    kept = _run_pipeline(spark, cfg, n_docs, timings, keep=passes == 1)
    first_pass = time.monotonic() - t0
    for i in range(passes - 1):
        if first_pass > _guard(PIPELINE_GUARD_S, n_docs / 400_000):
            break
        kept = _run_pipeline(
            spark, cfg, n_docs, timings, keep=i == passes - 2
        )
        pass_counts["pipeline"] += 1
    dedup_sec = sum(v for k, v in timings.items() if k.startswith("dedup_stage"))
    # auxiliary measurement: never let it eat the headline numbers — a
    # tripped guard or a failure records WHY instead of omitting silently
    if kept:
        try:
            serving = _measure_queries(spark, cfg, kept, n_docs, passes=passes)
        except Exception as e:  # noqa: BLE001
            serving = {"query_skipped": f"error: {e}"[:200]}
        try:
            incremental = _measure_incremental(
                spark, cfg, kept, n_docs, passes=passes
            )
        except Exception as e:  # noqa: BLE001
            incremental = {"incremental_skipped": f"error: {e}"[:200]}
        incremental = {**serving, **incremental}
    else:
        incremental = {"incremental_skipped": "pipeline guard tripped"}

    # ---- contract queries over the sf-dir driver tables
    t0 = time.monotonic()
    _run_queries(spark, sf_dir, timings)
    first_pass = time.monotonic() - t0
    for _ in range(passes - 1):
        if first_pass > _guard(QUERIES_GUARD_S, sf):
            break
        _run_queries(spark, sf_dir, timings)
        pass_counts["queries"] += 1

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "ndd_bench_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "dedup_docs": n_docs,
                "dedup_pipeline_sec": round(dedup_sec, 3),
                "dedup_docs_per_sec": round(n_docs / dedup_sec, 1) if dedup_sec else None,
                "cpus": int(cpus),
                "timed_passes": pass_counts,
                **incremental,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
