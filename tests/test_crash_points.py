"""Crash-point enumeration for the changeset core and for ``compact()``.

One mixed ``run_incremental`` (one appended doc, one edited exact-dup
representative, one deleted near-dup member) is killed at every catalog
mutation in turn: the ``StageCatalog`` primitives (``write``,
``write_small_local``, ``_append_small``, ``drop_partition``,
``mark_complete``) and the pipeline's marker and counter writes. For every
kill point k:

1. when no crash marker is up, ``pages_table()`` and ``clusters_view()``
   each show either the state before the run or the state after it;
2. ``run_incremental`` of the intended snapshot heals the catalog to the
   from-scratch rebuild's cluster partition, with no marker left up.

One ``compact()`` — the shared fold over retraction-log entries and
fragmented buckets, plus the clusters patch fold — is killed the same way,
on a catalog holding all three. For every kill point: with no marker up,
every view equals the view before the ``compact()``; and
``run_incremental`` of the catalog's snapshot heals to the rebuild's
partition.

The last case of each kills nothing: it pins the sequence of mutation
points, so a change to a commit protocol must revisit this enumeration.
Every mutation runs in program order on the caller's thread, so the k-th
point is one fixed program point and a kill at k leaves exactly the first
k-1 mutations.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from near_duplicate_detection_spark.config import NDDConfig
from near_duplicate_detection_spark.lineage import StageCatalog
from near_duplicate_detection_spark.pipeline import NDDPipeline
from near_duplicate_detection_spark.sources.pages import generate_pages, url_of

CFG = NDDConfig(num_buckets=2)
N = 40
CATALOG_MUTATORS = (
    "write",
    "write_small_local",
    "_append_small",
    "drop_partition",
    "mark_complete",
)
PIPELINE_MUTATORS = ("_set_marker", "_clear_marker", "_write_counter")
# mutation points of one mixed run on the base catalog, in order (lineage
# rows are counted once, at mark_complete; metrics rows are advisory, not
# counted)
MUTATIONS = (
    "_write_counter(retract.era)",
    "_set_marker(delta.inflight)",
    "_append_small(retract_patch)",
    "write(pages)",
    "mark_complete(pages)",
    "write(signatures)",
    "mark_complete(signatures)",
    "write(pairs)",
    "write(reps)",
    "mark_complete(pairs)",
    "write(substring_pairs)",
    "write(window_index)",
    "mark_complete(substring_pairs)",
    "write(clusters)",
    "write_small_local(cluster_tombstones)",
    "write_small_local(cluster_remap)",
    "_write_counter(delta.appends)",
    "mark_complete(clusters)",
    "_clear_marker(delta.inflight)",
)
N_MUTATIONS = len(MUTATIONS)
# mutation points of one compact() on the compact base catalog, in order
COMPACT_MUTATIONS = (
    "_set_marker(delta.inflight)",
    "write(clusters_next)",
    "_clear_marker(delta.appends)",
    "write(pages)",
    "write(signatures)",
    "write(reps)",
    "write(window_index)",
    "write(pairs)",
    "write(substring_pairs)",
    "_clear_marker(delta.inflight)",
)
N_COMPACT = len(COMPACT_MUTATIONS)
# sorts below every generated url, so appending it as an exact copy of
# url 11 relabels url 11's cluster: a cluster_remap entry for compact()
COPY_URL = "https://aaa.example.com/p/copy-0000000011"


class Crash(RuntimeError):
    pass


class FaultInjector:
    """Records every mutation in order; raises at the k-th, before it takes
    effect."""

    def __init__(self, crash_at: int):
        self.crash_at = crash_at
        self.seen: list[str] = []

    def hit(self, what: str) -> None:
        self.seen.append(what)
        k = len(self.seen)
        if k == self.crash_at:
            raise Crash(f"simulated crash at mutation {k}: {what}")

    def install(self, monkeypatch) -> None:
        for cls, names in (
            (StageCatalog, CATALOG_MUTATORS),
            (NDDPipeline, PIPELINE_MUTATORS),
        ):
            for name in names:
                monkeypatch.setattr(cls, name, self._wrap(name, getattr(cls, name)))

    def _wrap(self, name, orig):
        def wrapped(obj, *args, **kwargs):
            target = next((a for a in args if isinstance(a, str)), "")
            if not (name == "_append_small" and target in ("lineage", "metrics")):
                self.hit(f"{name}({target})")
            return orig(obj, *args, **kwargs)

        return wrapped


def _intended(spark):
    return (
        generate_pages(spark, N + 1)
        .withColumn(
            "text",
            F.when(
                F.col("url").endswith("0020"),
                F.concat(F.col("text"), F.lit(" crash-point edited tail")),
            ).otherwise(F.col("text")),
        )
        .where(~F.col("url").endswith("0023"))
    )


def _partition(clusters_df):
    pdf = clusters_df.toPandas()
    return {frozenset(grp.url) for _, grp in pdf.groupby("cluster_id")}


def _pages(pages_df):
    return frozenset(map(tuple, pages_df.select("url", "text").toPandas().values))


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ndd_cp_base"))
    pipe = NDDPipeline(spark, CFG, d)
    pipe.run(generate_pages(spark, N))
    return d, _pages(pipe.pages_table()), _partition(pipe.clusters_view())


@pytest.fixture(scope="module")
def snapshot(spark, tmp_path_factory):
    """The intended snapshot, written once as parquet (every case reads it
    twice: the killed run and the heal)."""
    path = str(tmp_path_factory.mktemp("ndd_cp_snap") / "snap")
    _intended(spark).write.parquet(path)
    return lambda: spark.read.parquet(path)


@pytest.fixture(scope="module")
def rebuilt(spark, tmp_path_factory, snapshot):
    pipe = NDDPipeline(spark, CFG, str(tmp_path_factory.mktemp("ndd_cp_full")))
    part = _partition(pipe.run(snapshot()))
    return part, _pages(pipe.pages_table())


# every case makes the first k of MUTATIONS, in order (the k-th raises); a
# kill point past the last never fires, so the run completes having made
# exactly MUTATIONS: checked just past the end and well past it
@pytest.mark.parametrize("k", [*range(1, N_MUTATIONS + 2), 31])
def test_crash_at_every_mutation_heals(
    spark, tmp_path_factory, monkeypatch, base, snapshot, rebuilt, k
):
    base_dir, pages_before, part_before = base
    part_after, pages_after = rebuilt
    d = str(tmp_path_factory.mktemp(f"ndd_cp_{k}") / "cat")
    shutil.copytree(base_dir, d)
    pipe = NDDPipeline(spark, CFG, d)
    injector = FaultInjector(k)
    injector.install(monkeypatch)
    if k <= N_MUTATIONS:
        with pytest.raises(Crash):
            pipe.run_incremental(snapshot())
    else:
        pipe.run_incremental(snapshot())
    assert tuple(injector.seen) == MUTATIONS[:k]
    monkeypatch.undo()

    if not pipe._delta_suspect():
        assert _pages(pipe.pages_table()) in (pages_before, pages_after)
        assert _partition(pipe.clusters_view()) in (part_before, part_after)
    healed = pipe.run_incremental(snapshot())
    assert _partition(healed) == part_after
    assert _pages(pipe.pages_table()) == pages_after
    assert not pipe._delta_suspect()


def _views(pipe):
    """Every read view compact() must leave row-identical."""
    dfs = {
        "pages": pipe.pages_table().select("url", "text"),
        "signatures": pipe.signatures_table().select("url", "fp"),
    }
    for t, cols in (
        ("reps", ["url", "fp"]),
        ("pairs", ["url_a", "url_b"]),
        ("window_index", ["url", "win_hash"]),
        ("substring_pairs", ["url_a", "url_b"]),
    ):
        dfs[t] = pipe.stage_view(t).select(*cols)
    out = {t: frozenset(map(tuple, df.toPandas().values)) for t, df in dfs.items()}
    out["clusters"] = _partition(pipe.clusters_view())
    return out


@pytest.fixture(scope="module")
def compact_base(spark, tmp_path_factory, base):
    """The base catalog after an append (fragmented buckets, and a
    cluster_remap entry from COPY_URL) and a delete (retraction-log entries
    and cluster tombstones), with its views, its snapshot and the
    rebuild's partition."""
    d = str(tmp_path_factory.mktemp("ndd_cp_cbase") / "cat")
    shutil.copytree(base[0], d)
    pipe = NDDPipeline(spark, CFG, d)
    copy = (
        generate_pages(spark, N)
        .where(F.col("url") == url_of(11))
        .withColumn("url", F.lit(COPY_URL))
    )
    added = generate_pages(spark, N + 3, start=N).unionByName(copy)
    pipe.append_pages(added)
    pipe.delete_pages([url_of(23)])
    cat = pipe.catalog
    assert cat.exists("retract_patch") and cat.exists("cluster_remap")
    assert cat.fragmented_partitions("pages")
    path = str(tmp_path_factory.mktemp("ndd_cp_csnap") / "snap")
    (
        generate_pages(spark, N)
        .unionByName(added)
        .where(F.col("url") != url_of(23))
        .write.parquet(path)
    )
    snap = lambda: spark.read.parquet(path)  # noqa: E731
    full = NDDPipeline(spark, CFG, str(tmp_path_factory.mktemp("ndd_cp_cfull")))
    return d, _views(pipe), snap, _partition(full.run(snap()))


@pytest.mark.parametrize("k", range(1, N_COMPACT + 2))
def test_compact_crash_at_every_mutation_heals(
    spark, tmp_path_factory, monkeypatch, compact_base, k
):
    base_dir, views_before, snapshot, part_rebuilt = compact_base
    d = str(tmp_path_factory.mktemp(f"ndd_cpc_{k}") / "cat")
    shutil.copytree(base_dir, d)
    pipe = NDDPipeline(spark, CFG, d)
    injector = FaultInjector(k)
    injector.install(monkeypatch)
    if k <= N_COMPACT:
        with pytest.raises(Crash):
            pipe.compact()
    else:
        pipe.compact()
    assert tuple(injector.seen) == COMPACT_MUTATIONS[:k]
    monkeypatch.undo()

    if not pipe._delta_suspect():
        assert _views(pipe) == views_before
    assert _partition(pipe.run_incremental(snapshot())) == part_rebuilt
    assert not pipe._delta_suspect()
