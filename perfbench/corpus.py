"""Seeded benchmark inputs and the cluster partition they must produce.

Every input is a pure function of the workload seed. Documents come from the
engine's public generator (``sources.pages.generate_rows``), which plants
exact, near, substring and decoy roles plus the 30% hot domain. On top of that
a share of the documents with no planted role is replaced by a boilerplate
family: successive small edits of one template, each member a near-copy of
the one before. The family is larger than ``max_bucket_size``, so the LSH skew
fallback and a giant connected component are exercised. A chain, not a star
of copies of the template, because the skew fallback links a flagged bucket's
members only when they share a SimHash prefix: in a star, a member whose
prefix differs shares no small bucket with the rest and stays alone, so the
planted truth would not hold on every seed. In a chain, runs of members share
band values, and the short runs form buckets small enough to expand.

Inputs are written to parquet once, before anything is timed; the engine only
ever sees ``spark.read.parquet``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from near_duplicate_detection_spark.sources.pages import (
    doc_tokens,
    generate_rows,
    truth_pairs,
    url_of,
)

FAMILY_SHARE = 0.06


def no_planted_role(doc_id: int) -> bool:
    """True for the generator's "unique text" docs (see sources/pages.py)."""
    m20 = doc_id % 20
    return (m20 in (5, 6, 7, 8) or m20 >= 10) and doc_id % 50 not in (6, 7)


class Corpus:
    """Live documents of one workload run, as url → text, plus planted truth.

    ``family`` holds the urls of the boilerplate family; ``max_id`` is one past
    the highest generator id used so far (appends extend it).
    """

    def __init__(self, n_docs: int, seed: int):
        self.seed = seed
        self.rng = np.random.RandomState(seed)
        self.max_id = n_docs
        rows = generate_rows(np.arange(n_docs), seed)
        self.docs: dict[str, str] = dict(zip(rows["url"], rows["text"]))
        candidates = [i for i in range(n_docs) if no_planted_role(i)]
        n_family = max(int(n_docs * FAMILY_SHARE), 2)
        members = self.rng.choice(candidates, size=n_family, replace=False)
        self.family = {url_of(int(i)) for i in members}
        toks = self._template()
        for j, i in enumerate(sorted(int(i) for i in members)):
            toks = self._perturb(toks, f"f{j}")
            self.docs[url_of(i)] = " ".join(toks)

    def _template(self) -> list[str]:
        doc_id = 10**8 + self.seed % 10**6
        while True:
            toks = doc_tokens(doc_id, self.seed)[0]
            if len(toks) >= 200:
                return toks
            doc_id += 20

    def _perturb(self, toks: list[str], tag: str, per: int = 100) -> list[str]:
        """A near-copy: about one fresh token per ``per`` tokens."""
        toks = list(toks)
        n = max(1, len(toks) // per)
        for k, p in enumerate(self.rng.choice(len(toks), size=n, replace=False)):
            toks[p] = f"zq{self.seed}{tag}k{k}"
        return toks

    # ---- inputs ----

    def singletons(self) -> list[str]:
        """Live urls that belong to no planted group and not to the family."""
        grouped = self.family | {u for pair in self._edges() for u in pair}
        return sorted(u for u in self.docs if u not in grouped)

    def next_batch(self, n: int) -> pd.DataFrame:
        """The next ``n`` generator ids (n a multiple of 20 keeps every
        planted group inside one batch). Not yet live."""
        ids = np.arange(self.max_id, self.max_id + n)
        self.max_id += n
        return generate_rows(ids, self.seed)[["url", "text"]]

    def pick(self, urls: list[str], n: int) -> list[str]:
        return sorted(self.rng.choice(urls, size=n, replace=False).tolist())

    def edited(self, urls: list[str]) -> pd.DataFrame:
        """New texts for ``urls``: near-copies of the current texts."""
        texts = [
            " ".join(self._perturb(self.docs[u].split(), f"e{self.rng.randint(1 << 30)}", 60))
            for u in urls
        ]
        return pd.DataFrame({"url": urls, "text": texts})

    def queries(self, n: int) -> list[tuple[str, str]]:
        """(source url, perturbed text) for ``n`` live singleton docs: the
        source url must come back in the top k."""
        out = []
        for u in self.pick(self.singletons(), n):
            out.append((u, " ".join(self._perturb(self.docs[u].split(), "q", 150))))
        return out

    # ---- truth ----

    def _edges(self) -> list[tuple[str, str]]:
        tp = truth_pairs(self.max_id)
        return [
            (a, b) for a, b in zip(tp.url_a, tp.url_b) if a in self.docs and b in self.docs
        ]

    def expected_partition(self) -> set[frozenset[str]]:
        """Clusters implied by the planted truth among live docs: truth-pair
        edges plus one cluster for the boilerplate family; decoys and every
        other doc stay alone."""
        parent = {u: u for u in self.docs}

        def find(u):
            while parent[u] != u:
                parent[u] = parent[parent[u]]
                u = parent[u]
            return u

        family = sorted(u for u in self.family if u in self.docs)
        edges = self._edges() + list(zip(family, family[1:]))
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        groups: dict[str, set[str]] = {}
        for u in self.docs:
            groups.setdefault(find(u), set()).add(u)
        return {frozenset(g) for g in groups.values()}


def frame(docs: dict[str, str]) -> pd.DataFrame:
    urls = sorted(docs)
    return pd.DataFrame({"url": urls, "text": [docs[u] for u in urls]})


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


def partition_of(clusters: pd.DataFrame) -> set[frozenset[str]]:
    groups: dict[str, set[str]] = {}
    for url, cid in zip(clusters["url"], clusters["cluster_id"]):
        groups.setdefault(str(cid), set()).add(url)
    return {frozenset(g) for g in groups.values()}


def partition_errors(expected: set[frozenset[str]], got: set[frozenset[str]]) -> list[str]:
    """Human-readable differences between two partitions (empty = equal)."""
    if expected == got:
        return []
    missing = sorted(expected - got, key=len, reverse=True)
    extra = sorted(got - expected, key=len, reverse=True)
    msgs = [f"{len(missing)} expected clusters absent, {len(extra)} unexpected"]
    for c in missing[:3]:
        msgs.append(f"  expected size {len(c)}: {sorted(c)[:4]}")
    for c in extra[:3]:
        msgs.append(f"  got size {len(c)}: {sorted(c)[:4]}")
    return msgs
