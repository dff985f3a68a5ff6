"""Engine configuration + config-hash chaining.

The reference pins stage validity to a version string chaining the script
VERSION constant with the stage's parameters and the upstream stage's
parameters (reference: ndd/extract_images.py:166-178, ndd/extract_features.py:74-88).
Here the same idea is an explicit ``config_hash`` per stage: a sha256 over the
stage's own parameters concatenated with the upstream stage's hash. Equality of
a stored lineage row's hash with the expected hash is the resume predicate
(reference: ndd/extract_features.py:88).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

ENGINE_VERSION = "20261017"


@dataclass(frozen=True)
class NDDConfig:
    """Fixed shingle/signature config (the BASELINE.json 'same config' contract)."""

    # --- stage 1: extraction + signatures ---
    shingle_k: int = 5               # tokens per shingle (w-shingling)
    num_perms: int = 128             # MinHash permutations
    simhash_bits: int = 64           # SimHash fingerprint width
    # --- stage 2: LSH + verify ---
    lsh_bands: int = 32              # b
    lsh_rows: int = 4                # r; b*r must equal num_perms
    jaccard_threshold: float = 0.6   # verify stage acceptance
    bucket_pair_ceiling: int = 2_000_000  # max pairs a single LSH bucket may emit
    max_bucket_size: int = 2_000     # docs per (band, hash) bucket before flagging
    # --- stage 2b: substring (suffix-array) pass ---
    substring_window: int = 64       # chars per anchored fingerprint window
    substring_anchor_gram: int = 8   # g-gram whose hash picks anchor positions
    substring_anchor_mod: int = 16   # anchor density: 1 per `mod` chars expected
    substring_min_len: int = 200     # min shared run to link a pair
    # --- incremental execution strategy (NOT semantics) ---
    # These bound WHICH plan the incremental paths pick (targeted retraction
    # vs full rebuild; stage-3 delta vs full CC; merge-on-read commit vs
    # fold) — never what the committed result contains. They are therefore
    # deliberately EXCLUDED from every stage hash: changing them must not
    # invalidate resume state (contrast bucket_pair_ceiling, which changes
    # the output pair set and so chains into stage2/2b hashes).
    max_retract: int = 100_000       # retraction size ceiling (broadcast map)
    # stage-3 delta driver/broadcast bound: a larger dissolve frontier or
    # contraction graph runs the full CC; a larger stored label patch or
    # tombstone set folds the clusters table
    max_remap: int = 2_000_000
    # merge-on-read clusters commits since the last rewrite at which the
    # next delta commit folds the sidecars and rewrites the table (Iceberg
    # compaction analog). Era COUNT, not file count: each MOR commit adds
    # exactly one file, while a rewrite's file count scales with cluster
    # parallelism — counting eras keeps the trigger scale-independent.
    clusters_append_ceiling: int = 64
    # stored retract_patch log rows above which a delete/update folds the
    # log (rewrites the governed pages/signatures buckets and the four
    # stage-2/2b tables from their views — the same routine compact()
    # runs) right after appending its entries — bounds both the broadcast
    # the readers pay and the driver-side composition. 0 folds on every
    # delete/update (copy-on-write). Same Iceberg MOR-maintenance shape as
    # clusters_append_ceiling; execution strategy, excluded from hashes
    # (views are identical either way).
    retract_patch_ceiling: int = 1_000_000
    # band_index (operators/serving_index.py) partition count: a single
    # query reads ≤ lsh_bands of these directories, so P sets the pruning
    # ratio — thousands at production scale. Derived, stamped, and
    # validated-at-read state, so purely an execution knob: excluded from
    # stage hashes (the index is outside the lineage system entirely).
    band_index_partitions: int = 256
    # serving-path candidate collection ceiling: query_top_k collects one
    # query's candidate urls (bounded by lsh_bands × max_bucket_size via the
    # over_ceiling contract) to turn the verify-text fetch into a
    # `bucket IN (...)` partition-pruned read instead of a full pages scan.
    # Above the ceiling it falls back to the unpruned semi-join, the right
    # plan at that size. Execution strategy, excluded from stage hashes.
    query_collect_ceiling: int = 100_000
    # --- layout ---
    # url-hash partitions for lineage granularity. ≥2× the largest local core
    # count (and thousands on a real cluster): stage-0/1 partitioned writes
    # run one task per bucket, so a low count caps write parallelism — the
    # round-1 value (16) throttled 32-core runs.
    num_buckets: int = 64

    def __post_init__(self) -> None:
        if self.lsh_bands * self.lsh_rows != self.num_perms:
            raise ValueError(
                f"lsh_bands*lsh_rows ({self.lsh_bands}*{self.lsh_rows}) "
                f"must equal num_perms ({self.num_perms})"
            )

    # -- config-hash chaining (reference .done semantics, extract_features.py:74-88) --

    def _hash(self, payload: dict, upstream: str = "") -> str:
        blob = json.dumps(payload, sort_keys=True) + "|" + upstream + "|" + ENGINE_VERSION
        return hashlib.sha256(blob.encode("utf-8")).hexdigest()[:16]

    def stage1_hash(self) -> str:
        d = asdict(self)
        keys = ("shingle_k", "num_perms", "simhash_bits", "num_buckets")
        return self._hash({k: d[k] for k in keys})

    def stage2_hash(self) -> str:
        d = asdict(self)
        keys = ("lsh_bands", "lsh_rows", "jaccard_threshold",
                "bucket_pair_ceiling", "max_bucket_size")
        return self._hash({k: d[k] for k in keys}, upstream=self.stage1_hash())

    def stage2b_hash(self) -> str:
        # max_bucket_size / bucket_pair_ceiling chain here too: stage 2b's
        # OUTPUT depends on them through the shared over_ceiling predicate
        # (window buckets above either limit route differently), so changing
        # them must invalidate substring_pairs — the same
        # params-that-change-output rule that put bucket_pair_ceiling into
        # stage2_hash in round 2.
        d = asdict(self)
        keys = ("substring_window", "substring_anchor_gram",
                "substring_anchor_mod", "substring_min_len",
                "max_bucket_size", "bucket_pair_ceiling")
        return self._hash({k: d[k] for k in keys}, upstream=self.stage1_hash())

    def stage3_hash(self) -> str:
        return self._hash({}, upstream=self.stage2_hash() + self.stage2b_hash())
