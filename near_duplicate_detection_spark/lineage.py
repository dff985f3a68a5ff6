"""Per-partition lineage + metrics tables — the distributed `.done` protocol.

Reference semantics: each stage writes a hidden `.done` file per videoid whose
content is a version string chaining stage params with upstream params;
string equality means "skip this partition on re-run"
(ndd/extract_features.py:86-88, ndd/shotdetect.py:115-117).

Engine: a `lineage` parquet table
    (stage, partition_id, config_hash, rows, wall_ms, completed_at)
appended once per completed (stage, partition); resume = anti-join of the
work-list against lineage rows with a matching config_hash. A `metrics` table
(stage, key, value) records counts, wall times, and flagged skew buckets
("no silent caps").

Stage tables live under a base dir as parquet; an Iceberg catalog would slot
in behind the same three calls (read_table / write_table / append_rows) — the
runtime image carries no Iceberg jars, so the layout keeps table-per-dir with
dynamic partition overwrite for idempotent partition replacement.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from near_duplicate_detection_spark.session import local_frame

LINEAGE_SCHEMA = (
    "stage string, partition_id int, config_hash string, rows bigint, "
    "checksum bigint, wall_ms bigint, completed_at timestamp"
)
METRICS_SCHEMA = "stage string, key string, value double"


class StageCatalog:
    """Thin parquet-dir table catalog with append/overwrite + lineage."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        if not os.path.isdir(p):
            return False
        for root, _dirs, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(table))

    def file_count(self, table: str) -> int:
        """Number of physical parquet files (directory listing, no Spark
        job, no footer reads). Used by compaction triggers; per-bucket
        fragmentation uses ``fragmented_partitions``."""
        p = self.path(table)
        if not os.path.isdir(p):
            return 0
        return sum(
            1
            for _root, _dirs, files in os.walk(p)
            for f in files
            if f.endswith(".parquet")
        )

    def fragmented_partitions(self, table: str) -> list[int]:
        """Partition values (``bucket=N`` subdirs) holding more than one
        parquet file — the per-bucket compaction work list. Directory
        listing only."""
        p = self.path(table)
        out = []
        if not os.path.isdir(p):
            return out
        for d in os.listdir(p):
            if not d.startswith("bucket="):
                continue
            sub = os.path.join(p, d)
            n = sum(1 for f in os.listdir(sub) if f.endswith(".parquet"))
            if n > 1:
                out.append(int(d.split("=", 1)[1]))
        return sorted(out)

    def write(self, df: DataFrame, table: str, partition_by: list[str] | None = None,
              mode: str = "overwrite", max_records_per_file: int = 0) -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.option("partitionOverwriteMode", "dynamic").partitionBy(*partition_by)
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", max_records_per_file)
        w.parquet(self.path(table))

    def write_small_local(
        self,
        table: str,
        rows: list[tuple],
        columns: list[str],
        types: list | None = None,
    ) -> None:
        """Driver-side parquet write for TINY control tables (the stage-3
        label patch and tombstones): zero Spark jobs, where a Spark
        write of driver rows costs a job and a commit protocol. Columns
        default to string; pass ``types`` (pyarrow DataTypes, one per
        column) for anything else. Staged to a temp dir + atomic rename."""
        types = types or [pa.string()] * len(columns)
        tbl = pa.table(
            {
                c: pa.array([r[i] for r in rows], type=types[i])
                for i, c in enumerate(columns)
            }
        )
        dst = self.path(table)
        tmp = dst + ".inprogress"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        pq.write_table(tbl, os.path.join(tmp, "part-00000.parquet"))
        shutil.rmtree(dst, ignore_errors=True)
        os.rename(tmp, dst)

    def read_small_rows(self, table: str, columns: list[str]) -> list[tuple]:
        """Driver-side read of a TINY control table (the retraction log):
        the inverse of ``write_small_local``, zero Spark jobs. Only ever
        called on sidecars bounded by an explicit ceiling."""
        tbl = pads.dataset(self.path(table), format="parquet").to_table(
            columns=columns
        )
        return list(zip(*(tbl.column(c).to_pylist() for c in columns)))

    # ---- lineage ----

    def lineage(self) -> DataFrame:
        if not self.exists("lineage"):
            return local_frame(self.spark, [], LINEAGE_SCHEMA)
        return self.read("lineage")

    def completed_partitions(self, stage: str, config_hash: str) -> set[int]:
        """The resume predicate (reference P1, ndd/extract_features.py:88):
        a partition is complete iff its LATEST lineage row (the
        ``completed_at`` order of ``latest_partition_stats``) carries the
        SAME config hash — param AND upstream-content changes invalidate it
        because the hash chains upstream hashes and content fingerprints
        (config.py + content_fingerprint). An older row never counts:
        content-derived hashes cycle back (append X, then drop X) to a
        commit whose table state has since been overwritten."""
        if not self.exists("lineage"):
            return set()
        tbl = pads.dataset(self.path("lineage"), format="parquet").to_table(
            columns=["partition_id", "config_hash", "completed_at"],
            filter=pads.field("stage") == stage,
        )
        pdf = tbl.to_pandas().sort_values("completed_at")
        latest = dict(zip(pdf["partition_id"], pdf["config_hash"]))
        return {int(p) for p, h in latest.items() if h == config_hash}

    def latest_partition_stats(
        self, stage: str, config_hash: str | None = None
    ) -> dict[int, tuple[int, int]]:
        """Latest (rows, checksum) per partition of a stage — the per-bucket
        CONTENT the stage last committed. The data-aware half of the resume
        predicate: a bucket is only 'done' if its stored stats still match
        the current upstream stats (the reference chains upstream content
        versions into each .done, ndd/extract_images.py:166-178)."""
        if not self.exists("lineage"):
            return {}
        flt = pads.field("stage") == stage
        if config_hash is not None:
            flt = flt & (pads.field("config_hash") == config_hash)
        tbl = pads.dataset(self.path("lineage"), format="parquet").to_table(
            columns=["partition_id", "rows", "checksum", "completed_at"],
            filter=flt,
        )
        pdf = tbl.to_pandas().sort_values("completed_at")
        out: dict[int, tuple[int, int]] = {}
        for pid, rows, cks in zip(pdf["partition_id"], pdf["rows"], pdf["checksum"]):
            out[int(pid)] = (int(rows), int(cks))
        return out

    def content_fingerprint(self, stage: str) -> str:
        """Digest of a stage table's current per-partition content stats —
        chained into DOWNSTREAM stage hashes so that appending, deleting, or
        rewriting upstream rows invalidates every dependent stage (round-1
        resume was param-only and silently served stale pairs/clusters)."""
        import hashlib

        stats = self.latest_partition_stats(stage)
        blob = ";".join(
            f"{pid}:{rows}:{cks}" for pid, (rows, cks) in sorted(stats.items())
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]

    def count_rows(
        self, table: str, filter_expr: tuple[str, str, object] | None = None
    ) -> int:
        """Row count from parquet footers (no Spark job); an optional
        (column, op, value) predicate is pushed into row-group statistics —
        pyarrow reads only groups the stats can't decide."""
        ds = pads.dataset(self.path(table), format="parquet")
        if filter_expr is None:
            return ds.count_rows()
        col, op, val = filter_expr
        f = {
            "==": pads.field(col) == val,
            "<": pads.field(col) < val,
            ">": pads.field(col) > val,
        }[op]
        return ds.count_rows(filter=f)

    def distinct_values(self, table: str, column: str) -> set:
        """Distinct values of a CONSTANT-PER-FILE control column (the
        delta-state cfg_hash stamp) from parquet row-group STATISTICS only —
        no data pages are decoded, so the cost is footer reads regardless of
        row count. Every row group contributes its (min, max) bounds: a
        constant column has min == max == the value, so the result set stays
        exact; any within-group variation widens the set to ≥2 members,
        which is all the stamp-guard callers need (equality against one
        expected value refuses on mixed stamps). A group with NULLs or
        missing/truncated statistics contributes a ``None`` sentinel —
        strictly conservative, the guard refuses. Returns an empty set when
        the column is absent. (Round-3 shipped this as a full-column
        ``to_table`` pull — an O(corpus) driver read over the one-row-per-url
        seen/seen_2b tables; stats bound the cost by file count instead.)

        Stats-truncation note: parquet writers may truncate min/max for long
        binary values (parquet-mr truncates above 64 bytes); the cfg_hash
        stamp is 16 ASCII chars, far below every writer's threshold."""
        ds = pads.dataset(self.path(table), format="parquet")
        if column not in ds.schema.names:
            return set()
        out: set = set()
        for frag in ds.get_fragments():
            md = frag.metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            ci = names.index(column)
            for rg in range(md.num_row_groups):
                grp = md.row_group(rg)
                if grp.num_rows == 0:
                    continue
                st = grp.column(ci).statistics
                if (
                    st is None
                    or not st.has_min_max
                    or (st.null_count or 0) > 0
                ):
                    out.add(None)
                    continue
                out.add(st.min)
                out.add(st.max)
        return out

    def drop_partition(self, table: str, bucket: int) -> None:
        """Remove one bucket partition dir (delete handling: a bucket whose
        input rows all vanished is never rewritten by dynamic overwrite)."""
        import shutil

        shutil.rmtree(
            os.path.join(self.path(table), f"bucket={bucket}"),
            ignore_errors=True,
        )

    def bucket_counts(self, table: str) -> dict[int, int]:
        """Per-bucket row counts of a bucket-partitioned table (footers only)."""
        out: dict[int, int] = {}
        root = self.path(table)
        for d in os.listdir(root):
            if d.startswith("bucket="):
                out[int(d.split("=", 1)[1])] = pads.dataset(
                    os.path.join(root, d), format="parquet"
                ).count_rows()
        return out

    def _append_small(self, table: str, pdf: pd.DataFrame, schema: pa.Schema) -> None:
        """Driver-side append of a tiny control-table row-batch. These tables
        are a few rows per stage — spinning a Spark job per append costs more
        than the data; a direct parquet file write into the dir is equivalent
        (commit protocol: file appears atomically via rename-on-close)."""
        os.makedirs(self.path(table), exist_ok=True)
        fname = os.path.join(
            self.path(table), f"part-{uuid.uuid4().hex}.snappy.parquet"
        )
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema), fname)

    _LINEAGE_PA = pa.schema(
        [
            ("stage", pa.string()),
            ("partition_id", pa.int32()),
            ("config_hash", pa.string()),
            ("rows", pa.int64()),
            ("checksum", pa.int64()),
            ("wall_ms", pa.int64()),
            ("completed_at", pa.timestamp("us")),
        ]
    )
    _METRICS_PA = pa.schema(
        [("stage", pa.string()), ("key", pa.string()), ("value", pa.float64())]
    )

    def mark_complete(
        self,
        stage: str,
        config_hash: str,
        partition_rows: dict[int, int],
        wall_ms: int,
        checksums: dict[int, int] | None = None,
    ) -> None:
        """checksums: optional per-partition content checksum (url-hash sum)
        — stored so later runs can detect content drift, not just row-count
        drift (an append+delete that keeps the count would otherwise slip
        through)."""
        # microsecond resolution: second-level stamps tie when two marks land
        # in the same second (e.g. invalidate → immediate re-sign) and the
        # latest-stats ordering would then depend on file read order
        now = pd.Timestamp(int(time.time() * 1_000_000), unit="us")
        cks = checksums or {}
        pdf = pd.DataFrame(
            [
                (stage, int(pid), config_hash, int(nrows),
                 int(cks.get(pid, 0)), int(wall_ms), now)
                for pid, nrows in partition_rows.items()
            ],
            columns=["stage", "partition_id", "config_hash", "rows",
                     "checksum", "wall_ms", "completed_at"],
        )
        self._append_small("lineage", pdf, self._LINEAGE_PA)

    # ---- metrics ----

    def add_metrics(self, stage: str, metrics: dict[str, float]) -> None:
        if not metrics:
            return
        pdf = pd.DataFrame(
            [(stage, k, float(v)) for k, v in metrics.items()],
            columns=["stage", "key", "value"],
        )
        self._append_small("metrics", pdf, self._METRICS_PA)

    def metrics(self) -> DataFrame:
        if not self.exists("metrics"):
            return local_frame(self.spark, [], METRICS_SCHEMA)
        return self.read("metrics")
