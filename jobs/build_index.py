"""spark-submit entry point: build (or resume) the near-duplicate index.

Usage:
    zip -r ndd.zip near_duplicate_detection_spark/
    spark-submit --py-files ndd.zip jobs/build_index.py \
        --pages /path/to/pages_parquet --catalog /path/to/catalog \
        [--n-synthetic 100000] [--no-resume] \
        [--incremental | --append | --update | --delete-urls PATH \
         | --compact | --serving-index] \
        [--shingle-k 5] [--num-perms 128] [--bands 32] [--rows 4] \
        [--jaccard 0.6] [--buckets 64]

Exactly one of --pages (existing parquet with the input_hint schema) or
--n-synthetic (deterministic generator) selects the input. Every build and
every changeset runs stages 0→1→2→2b→3 (ingest, signatures, LSH pairs, the
suffix-array substring pass, connected components). Re-running with the same
catalog resumes from lineage (the reference's `.done` semantics,
ndd/extract_features.py:88, distributed).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    src = ap.add_mutually_exclusive_group()
    src.add_argument("--pages", help="parquet dir: url, warc_ts, html, text, lang")
    src.add_argument("--n-synthetic", type=int, help="generate N synthetic pages")
    ap.add_argument("--catalog", required=True, help="stage-table catalog dir")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--incremental", action="store_true",
        help="change-optimized: --pages is the FULL current snapshot; the "
             "engine infers appends/edits/deletes and runs the delta paths "
             "(pure appends route through the O(append) core)",
    )
    ap.add_argument(
        "--changed-buckets",
        help="with --incremental: comma-separated url-hash bucket ids the "
             "caller KNOWS contain all drift (an Iceberg snapshot diff's "
             "changed partitions) — the control-plane scans restrict to "
             "them; every declared bucket's full current content must be "
             "present in --pages",
    )
    ap.add_argument(
        "--append", action="store_true",
        help="O(append) explicit: --pages holds ONLY the new rows "
             "(append_pages — zero corpus scans; urls must be new)",
    )
    ap.add_argument(
        "--update", action="store_true",
        help="O(edit) explicit: --pages holds ONLY the changed rows "
             "(update_pages — only the batch is re-signed)",
    )
    ap.add_argument(
        "--delete-urls",
        help="O(delete) explicit: parquet dir with a `url` column, or a "
             "newline-delimited url list file (delete_pages — anti-join "
             "bucket rewrites, zero re-signing); no input snapshot needed",
    )
    ap.add_argument(
        "--compact", action="store_true",
        help="table maintenance: fold the merge-on-read label patch and "
             "rewrite fragmented buckets (compact() — pure physical "
             "reorganization); no input snapshot needed",
    )
    ap.add_argument(
        "--serving-index", action="store_true",
        help="build/refresh the partition-pruned band_index for "
             "interactive query serving (build_serving_index() — derived "
             "state, stamp-validated at read); no input snapshot needed",
    )
    ap.add_argument("--shingle-k", type=int, default=5)
    ap.add_argument("--num-perms", type=int, default=128)
    ap.add_argument("--bands", type=int, default=32)
    ap.add_argument("--rows", type=int, default=4)
    ap.add_argument("--jaccard", type=float, default=0.6)
    ap.add_argument("--buckets", type=int, default=64)
    args = ap.parse_args(argv)
    modes = [
        m
        for m, on in (
            ("--incremental", args.incremental),
            ("--append", args.append),
            ("--update", args.update),
            ("--delete-urls", bool(args.delete_urls)),
            ("--compact", args.compact),
            ("--serving-index", args.serving_index),
        )
        if on
    ]
    if len(modes) > 1:
        ap.error(f"pick one of {modes}")
    if args.delete_urls or args.compact or args.serving_index:
        if args.pages or args.n_synthetic:
            ap.error(f"{modes[0]} takes no input snapshot")
    elif not (args.pages or args.n_synthetic is not None):
        ap.error("one of --pages / --n-synthetic is required")
    if modes and args.no_resume:
        ap.error(f"{modes[0]} requires resume state; drop --no-resume")

    from pyspark.sql import SparkSession

    from near_duplicate_detection_spark.config import NDDConfig
    from near_duplicate_detection_spark.pipeline import NDDPipeline

    # spark-submit provides the session config (master, executors, memory);
    # getOrCreate attaches to it instead of hard-coding local-mode settings
    spark = SparkSession.builder.appName("ndd-build").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    cfg = NDDConfig(
        shingle_k=args.shingle_k,
        num_perms=args.num_perms,
        lsh_bands=args.bands,
        lsh_rows=args.rows,
        jaccard_threshold=args.jaccard,
        num_buckets=args.buckets,
    )
    pipe = NDDPipeline(spark, cfg, args.catalog)
    if args.compact:
        clusters = None
        print(json.dumps({"compacted": {
            t: list(v) for t, v in pipe.compact().items()
        }}))
        return 0
    if args.serving_index:
        pipe.build_serving_index()
        print(json.dumps({
            "band_index_files": pipe.catalog.file_count("band_index")
        }))
        return 0
    if args.delete_urls:
        import os

        if os.path.isdir(args.delete_urls):
            urls = spark.read.parquet(args.delete_urls).select("url")
        else:
            with open(args.delete_urls) as f:
                urls = [ln.strip() for ln in f if ln.strip()]
        clusters = pipe.delete_pages(urls)
    else:
        if args.pages:
            pages = spark.read.parquet(args.pages)
        else:
            from near_duplicate_detection_spark.sources.pages import (
                generate_pages,
            )

            pages = generate_pages(spark, args.n_synthetic)
        if args.changed_buckets and not args.incremental:
            # the seam only exists on the inferred path; ignoring the flag
            # silently would let a caller believe restricted scans ran
            print(
                json.dumps(
                    {"error": "--changed-buckets requires --incremental"}
                ),
                file=sys.stderr,
            )
            return 2
        if args.incremental:
            cb = (
                [int(b) for b in args.changed_buckets.split(",") if b.strip()]
                if args.changed_buckets
                else None
            )
            clusters = pipe.run_incremental(pages, changed_buckets=cb)
        elif args.append:
            clusters = pipe.append_pages(pages)
        elif args.update:
            clusters = pipe.update_pages(pages)
        else:
            clusters = pipe.run(pages, resume=not args.no_resume)
    stats = {
        "clusters_rows": pipe.catalog.count_rows("clusters"),
        "pairs": pipe.catalog.count_rows("pairs"),
        # the latest value per key: rows in commit order, later ones win
        "metrics": {
            f"{r['stage']}/{r['key']}": r["value"]
            for r in pipe.catalog.metrics().orderBy("completed_at").collect()
        },
    }
    print(json.dumps(stats))
    _ = clusters
    return 0


if __name__ == "__main__":
    sys.exit(main())
