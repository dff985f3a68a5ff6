"""The benchmark's workloads: one client issuing calls back to back.

``build``  one ``run()`` in a fresh session over a corpus with a boilerplate
           family larger than ``max_bucket_size``, then queries of the fresh
           catalog. Stages 0-3, every numpy kernel, the LSH skew fallback and
           the connected-components rounds do their work here.
``churn``  a built catalog taking rounds of one ``append_pages`` commit and
           five queries over the catalog as it stands (base files plus the
           appended delta).

The base build of ``churn`` is its set-up. ``build`` has no warm-up: a batch
``run()`` pays for compiling its plans on every job, so the benchmark times it
as it runs.
The traced run adds the calls too slow to time on every run: the serving
index, batch and streaming queries and an edit+delete ``run_incremental`` on
``build``; ``delete_pages``, ``update_pages``, a pure-append
``run_incremental`` and ``compact()`` on ``churn``.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import numpy as np
import pandas as pd

from corpus import Corpus, frame, partition_errors, partition_of, write_parquet
from procfs import cpu_s
from spans import SparkActivity, Tracer, coverage, span_counters, within

from near_duplicate_detection_spark.config import NDDConfig
from near_duplicate_detection_spark.pipeline import (
    NDDPipeline,
    query_top_k,
    query_top_k_batch,
)

BUILD_DOCS = 600
CHURN_DOCS = 200
APPEND_DOCS = 20  # a multiple of 20 keeps every planted group in one batch
DELETE_DOCS = 4
EDIT_DOCS = 4
TOP_K = 5
# a run has time for one write: the query median is taken over this many
QUERY_SAMPLES = 5
KERNEL_SAMPLE = 200
# the boilerplate family (6% of the docs) must overflow one LSH bucket
MAX_BUCKET_SIZE = 10
SIDECARS = ("page_tombstones", "retract_patch", "cluster_remap")
COMMITS = {"run", "append", "update", "delete", "infer_append", "infer_edit", "compact"}


def median(xs: list[float]) -> float:
    return float(np.median(xs))


class Bench:
    """State of one benchmark run: session, config, timings and failures."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        # num_buckets by the rule config.py gives for it, twice the local
        # core count; the default (64) is sized for 32 cores and makes a
        # build here spend most of its time on per-bucket files and tasks
        slots = spark.sparkContext.defaultParallelism
        self.cfg = NDDConfig(num_buckets=2 * slots, max_bucket_size=MAX_BUCKET_SIZE)
        # per op kind ("write", "query"): wall seconds and CPU seconds
        self.times = {clock: {"write": [], "query": []} for clock in ("wall", "cpu")}
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.traced_extra: dict[str, float] = {}
        self.input_gen_s = 0.0
        self.prewarm_s = 0.0
        self.setup_end = 0.0
        self.index_built = float("inf")
        self._n = 0

    def start_measuring(self) -> None:
        self.setup_end = time.perf_counter()

    def median(self, clock: str, kind: str) -> float:
        ts = self.times[clock][kind]
        return median(ts) if ts else 0.0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def parquet(self, pdf) -> str:
        self._n += 1
        p = self.path(f"input-{self._n}.parquet")
        write_parquet(pdf, p)
        return p

    def pipeline(self, name: str) -> NDDPipeline:
        shutil.rmtree(self.path(name), ignore_errors=True)
        return self.tracer.instrument(NDDPipeline(self.spark, self.cfg, self.path(name)))

    def op(self, span: str, fn, *args, kind: str | None = None):
        """Run one call, timed when ``kind`` names its op kind; a raised
        error counts as a failed op."""
        self.attempted += 1
        c0, t0 = cpu_s(), time.perf_counter()
        try:
            with self.tracer.span(span):
                out = fn(*args)
        except Exception:
            self.failed += 1
            print(f"FAILED {span}:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        if kind is not None:
            self.times["wall"][kind].append(time.perf_counter() - t0)
            self.times["cpu"][kind].append(cpu_s() - c0)
        return out

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        print(f"INCORRECT: {why}", file=sys.stderr)

    def query(self, pipe: NDDPipeline, source: str, text: str, kind: str | None) -> None:
        res = self.op(
            "query",
            lambda: query_top_k(self.spark, pipe.catalog, self.cfg, text, k=TOP_K).toPandas(),
            kind=kind,
        )
        if res is not None and source not in set(res["url"]):
            self.fail(1, f"query for {source} missed it: {list(res['url'])}")

    def check_partition(self, pipe: NDDPipeline, corpus: Corpus, ops: int) -> None:
        got = partition_of(pipe.clusters_view().select("url", "cluster_id").toPandas())
        errors = partition_errors(corpus.expected_partition(), got)
        if errors:
            self.fail(ops, "cluster partition differs from planted truth\n" + "\n".join(errors))

    def until_deadline(self, minimum: int = 1):
        """Yield round numbers, at least ``minimum``, until ``seconds`` have
        passed since measuring started."""
        deadline = self.setup_end + self.seconds
        i = 0
        while i < minimum or time.perf_counter() < deadline:
            yield i
            i += 1

    # ---- traced-only measurements ----

    def catalog_metrics(self, pipe: NDDPipeline, corpus: Corpus) -> None:
        root = pipe.catalog.path("")
        sizes = [
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
        ]
        live_bytes = sum(len(u.encode()) + len(t.encode()) for u, t in corpus.docs.items())
        cat = pipe.catalog
        m = cat.metrics().toPandas().groupby(["stage", "key"])["value"].max()

        def stat(stage, key):
            return float(m.get((stage, key), 0.0))

        self.layer.update({
            "catalog.files": float(len(sizes)),
            "catalog.space_amp": sum(sizes) / live_bytes,
            "stage2.verified_pairs": stat("pairs", "verified_pairs"),
            "stage2.flagged_buckets": stat("pairs", "flagged_buckets"),
            "stage2b.substring_pairs": stat("substring_pairs", "substring_pairs"),
            "stage2b.flagged_window_buckets": stat("substring_pairs", "flagged_window_buckets"),
            "stage3.multi_doc_clusters": stat("clusters", "multi_doc_clusters"),
        })
        from near_duplicate_detection_spark.operators.lsh import candidate_pairs

        candidates = candidate_pairs(pipe.signatures_table(), self.cfg)[0].count()
        self.layer["stage2.verify_yield"] = (
            self.layer["stage2.verified_pairs"] / candidates if candidates else 0.0
        )

    def sidecar_rows(self, pipe: NDDPipeline) -> None:
        cat = pipe.catalog
        rows = sum(cat.read(t).count() for t in SIDECARS if cat.exists(t))
        self.layer["mor.sidecar_rows"] = float(rows)

    def kernel_rates(self, corpus: Corpus) -> None:
        """Single-core rates of the three numpy kernels on a fixed doc sample."""
        from near_duplicate_detection_spark.functions.hashing import perm_params
        from near_duplicate_detection_spark.functions.signatures import compute_signatures_batch
        from near_duplicate_detection_spark.functions.suffix import common_run_at_least
        from near_duplicate_detection_spark.functions.text import normalize_text
        from near_duplicate_detection_spark.operators.substring import window_hashes_batch

        sample = frame({u: corpus.docs[u] for u in sorted(corpus.docs)[:KERNEL_SAMPLE]})
        cfg = self.cfg
        a, b = perm_params(cfg.num_perms)
        texts = [normalize_text(t) for t in sample["text"]]
        pairs = list(zip(texts[0::2], texts[1::2]))

        def rate(n, fn):
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn()
                times.append(time.perf_counter() - t0)
            return n / median(times)

        self.layer["signatures.kernel_docs_per_s"] = rate(
            len(sample), lambda: compute_signatures_batch(sample["url"], sample["text"], cfg, a, b)
        )
        self.layer["substring.kernel_docs_per_s"] = rate(
            len(texts),
            lambda: window_hashes_batch(
                texts, cfg.substring_window, cfg.substring_anchor_gram, cfg.substring_anchor_mod
            ),
        )
        self.layer["suffix.kernel_pairs_per_s"] = rate(
            len(pairs), lambda: [common_run_at_least(x, y, cfg.substring_min_len) for x, y in pairs]
        )

    def span_metrics(self, signed_per_run: int = 0) -> None:
        """Span counters, plus the time of the stage-1 spans inside ``run()``
        not explained by the signing kernel, when each run signs
        ``signed_per_run`` docs."""
        act = SparkActivity(self.spark)
        self.layer.update(span_counters(self.tracer, act))
        if signed_per_run:
            signing = signed_per_run / self.layer["signatures.kernel_docs_per_s"]
            task_s = span_counters(self.tracer, act, under="run").get("stage1.task_s", 0.0)
            self.layer["stage1.boundary_s"] = task_s - signing
        commits = sum(1 for s in self.tracer.spans if s.name in COMMITS)
        written = sum(st.output_bytes for st in act.stages if within(self.tracer, COMMITS, st.submitted))
        self.layer["catalog.bytes_written_mb"] = written / 1e6 / max(commits, 1)
        indexed = [s for s in self.tracer.spans if s.name == "query" and s.start >= self.index_built]
        files = sum(n for t, n in act.files_read if any(s.start <= t <= s.end for s in indexed))
        self.layer["index.files_read_per_query"] = files / len(indexed) if indexed else 0.0
        self.layer["build.stage_coverage"] = coverage(
            self.tracer, "run", {"stage0", "stage1", "stage2", "stage2b", "stage3"}
        )


def build(b: Bench) -> None:
    """One ``run()`` in a fresh session, as a batch job pays for it, then
    queries of the fresh catalog until ``--seconds`` have passed."""
    t0 = time.perf_counter()
    corpus = Corpus(BUILD_DOCS, b.seed)
    source = b.parquet(frame(corpus.docs))
    queries = corpus.queries(64)
    b.input_gen_s = time.perf_counter() - t0

    b.start_measuring()
    pipe = b.pipeline("build")
    if b.op("run", pipe.run, b.spark.read.parquet(source), kind="write") is None:
        return
    b.check_partition(pipe, corpus, 1)
    for i in b.until_deadline(QUERY_SAMPLES):
        b.query(pipe, *queries[i % len(queries)], "query")

    if b.tracer.enabled:
        serve_traced(b, pipe, corpus)
        b.check_partition(pipe, corpus, infer_edit_traced(b, pipe, corpus))
        b.catalog_metrics(pipe, corpus)
        b.kernel_rates(corpus)
        b.span_metrics(BUILD_DOCS)


def serve_traced(b: Bench, pipe: NDDPipeline, corpus: Corpus) -> None:
    """Serving index, then indexed single, batch and streaming queries."""
    from near_duplicate_detection_spark.streaming.serving import query_file_stream, serve_queries

    b.op("index_build", pipe.build_serving_index)
    b.index_built = time.time()
    queries = corpus.queries(max(len(corpus.docs) // 40, 8))
    t0 = time.perf_counter()
    b.query(pipe, *queries[0], None)
    b.traced_extra["indexed_query_s"] = time.perf_counter() - t0
    qdf = [(str(i), text) for i, (_, text) in enumerate(queries)]
    batch = b.spark.createDataFrame(qdf, "query_id string, text string")
    res = b.op("batch", lambda: query_top_k_batch(b.spark, pipe.catalog, b.cfg, batch, k=TOP_K).toPandas())
    if res is not None:
        check_hits(b, queries, res)

    drops = b.path("query-drops")
    os.makedirs(drops)
    half = len(qdf) // 2
    for j, part in enumerate((qdf[:half], qdf[half:])):
        write_parquet(pd.DataFrame(part, columns=["query_id", "text"]), f"{drops}/{j}.parquet")
    out = b.path("stream-out")

    def drain():
        q = serve_queries(
            b.spark, pipe.catalog, b.cfg, query_file_stream(b.spark, drops), out,
            b.path("stream-ckpt"), k=TOP_K,
        )
        q.awaitTermination()
        return q.recentProgress

    progress = b.op("stream", drain)
    if progress is not None:
        durations = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress if p["numInputRows"]]
        b.traced_extra["stream_batch_p50_s"] = median(durations) if durations else 0.0
        check_hits(b, queries, b.spark.read.parquet(out).toPandas())


def check_hits(b: Bench, queries, res) -> None:
    hits = res.groupby("query_id")["url"].apply(set).to_dict()
    for i, (src, _) in enumerate(queries):
        if src not in hits.get(str(i), set()):
            b.fail(1, f"batch/stream query {i} missed {src}")


def churn(b: Bench) -> None:
    t0 = time.perf_counter()
    corpus = Corpus(CHURN_DOCS, b.seed)
    source = b.parquet(frame(corpus.docs))
    b.input_gen_s = time.perf_counter() - t0

    # the base build is the warm-up: it compiles the plans the commits share
    t0 = time.perf_counter()
    pipe = b.pipeline("churn")
    pipe.run(b.spark.read.parquet(source))
    b.prewarm_s = time.perf_counter() - t0

    b.start_measuring()
    commits = 0
    for _ in b.until_deadline():
        churn_round(b, pipe, corpus)
        commits += 1

    if b.tracer.enabled:
        commits += churn_traced(b, pipe, corpus)
        b.catalog_metrics(pipe, corpus)
    b.check_partition(pipe, corpus, commits)
    if b.tracer.enabled:
        b.span_metrics()


def churn_round(b: Bench, pipe: NDDPipeline, corpus: Corpus) -> None:
    batch = corpus.next_batch(APPEND_DOCS)
    path = b.parquet(batch)
    if b.op("append", pipe.append_pages, b.spark.read.parquet(path), kind="write") is not None:
        corpus.docs.update(zip(batch["url"], batch["text"]))
    for source, text in corpus.queries(QUERY_SAMPLES):
        b.query(pipe, source, text, "query")


def churn_traced(b: Bench, pipe: NDDPipeline, corpus: Corpus) -> int:
    """delete_pages and a query over the tombstones, update_pages, a
    pure-append run_incremental (the snapshot-inferred fast path), then
    compact()."""
    gone = corpus.pick(sorted(set(corpus.docs) - corpus.family), DELETE_DOCS)
    if b.op("delete", pipe.delete_pages, gone) is not None:
        for u in gone:
            del corpus.docs[u]
    b.query(pipe, *corpus.queries(1)[0], None)

    edits = corpus.edited(corpus.pick(corpus.singletons(), EDIT_DOCS))
    if b.op("update", pipe.update_pages, b.spark.read.parquet(b.parquet(edits))) is not None:
        corpus.docs.update(zip(edits["url"], edits["text"]))

    batch = corpus.next_batch(APPEND_DOCS)
    live = {**corpus.docs, **dict(zip(batch["url"], batch["text"]))}
    snap = b.parquet(frame(live))
    if b.op("infer_append", pipe.run_incremental, b.spark.read.parquet(snap)) is not None:
        corpus.docs = live
    b.sidecar_rows(pipe)
    b.op("compact", pipe.compact)
    return 4


def infer_edit_traced(b: Bench, pipe: NDDPipeline, corpus: Corpus) -> int:
    """An edit+delete run_incremental: the slow path that infers the change
    from a full snapshot."""
    edits = corpus.edited(corpus.pick(corpus.singletons(), EDIT_DOCS))
    gone = corpus.pick(sorted(set(corpus.docs) - corpus.family - set(edits["url"])), 2)
    live = {**corpus.docs, **dict(zip(edits["url"], edits["text"]))}
    for u in gone:
        del live[u]
    snap = b.parquet(frame(live))
    if b.op("infer_edit", pipe.run_incremental, b.spark.read.parquet(snap)) is not None:
        corpus.docs = live
    return 1


WORKLOADS = {"build": build, "churn": churn}
