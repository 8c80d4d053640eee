"""Seeded DocumentStore op sequence and the in-memory model it is checked
against.

The model mirrors the store's observable contract: versions are numbered
per name from max(live versions, versions tombstoned since the last
compaction) + 1; reads default to the latest live version; ``search``
scores a document by how many of its whitespace tokens equal a query term
and returns the top ``k`` by (score desc, name, version).
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np

OPS = (
    "download",
    "get_file_meta_data",
    "get_file_version",
    "upload",
    "delete",
    "search",
)
# Ops per round, in the order of OPS. The read/update balance is YCSB core
# workload A's 50% read / 50% update (Cooper et al., "Benchmarking Cloud
# Serving Systems with YCSB", SoCC 2010). Each half is split evenly over the
# store's calls of that kind: the four reading calls (search is the scan)
# once each, the update half over the two mutating calls, so that uploads
# and deletes balance and the live store stays level from round to round.
# Every round carries this exact mix, in seeded order.
ROUND_MIX = (1, 1, 1, 2, 2, 1)
READ_OPS = frozenset({"download", "get_file_meta_data", "get_file_version"})
WRITE_OPS = frozenset({"upload", "delete"})
ZIPF_S = 0.99  # YCSB's zipfian constant, over a scrambled (shuffled) key ranking
SEARCH_K = 10
SEARCH_TERMS = 2  # a fixed count keeps a search's cost seed-independent

_SPLIT = re.compile(r"\s+")


@dataclass(frozen=True)
class Op:
    kind: str
    name: str = ""
    payload: bytes = b""
    query: str = ""


def op_rounds(
    seed: int, names: list[str], vocab: list[str], words: tuple[int, int]
) -> Iterator[list[Op]]:
    """Endless rounds of ``sum(ROUND_MIX)`` ops in seeded order. Names follow
    a Zipf(``ZIPF_S``) law over a seed-shuffled ranking of ``names``, so
    popular keys recur. An upload is a text of ``words[0]..words[1]`` words
    over ``vocab``, the shape of the preloaded documents. The same arguments
    give the same rounds."""
    rng = np.random.default_rng(seed)
    ranked = [names[i] for i in rng.permutation(len(names))]
    weights = 1.0 / np.arange(1, len(ranked) + 1) ** ZIPF_S
    weights /= weights.sum()
    kinds = [kind for kind, n in zip(OPS, ROUND_MIX) for _ in range(n)]
    while True:
        ops = []
        for i in rng.permutation(len(kinds)):
            kind = kinds[i]
            if kind == "search":
                terms = rng.choice(len(vocab), size=SEARCH_TERMS, replace=False)
                ops.append(Op(kind, query=" ".join(vocab[t] for t in terms)))
                continue
            name = ranked[rng.choice(len(ranked), p=weights)]
            if kind == "upload":
                picks = rng.integers(0, len(vocab), int(rng.integers(words[0], words[1] + 1)))
                ops.append(Op(kind, name, payload=" ".join(vocab[w] for w in picks).encode()))
            else:
                ops.append(Op(kind, name))
        yield ops


class StoreModel:
    """What a correct DocumentStore returns, kept in plain dicts."""

    def __init__(self) -> None:
        self.live: dict[str, dict[int, bytes]] = {}
        self.tombstoned_max: dict[str, int] = {}

    def preload(self, docs: list[tuple[str, bytes]]) -> None:
        """Mirror ``bulk_ingest`` into an empty store: each name's documents
        take versions 1..n ordered by (length, content)."""
        by_name: dict[str, list[bytes]] = {}
        for name, content in docs:
            by_name.setdefault(name, []).append(content)
        for name, contents in by_name.items():
            contents.sort(key=lambda c: (len(c), c))
            self.live[name] = {v: c for v, c in enumerate(contents, 1)}

    def latest(self, name: str) -> int | None:
        versions = self.live.get(name)
        return max(versions) if versions else None

    def upload(self, name: str, content: bytes) -> int:
        version = max(self.latest(name) or 0, self.tombstoned_max.get(name, 0)) + 1
        self.live.setdefault(name, {})[version] = content
        return version

    def delete(self, name: str) -> bool:
        version = self.latest(name)
        if version is None:
            return False
        del self.live[name][version]
        self.tombstoned_max[name] = max(self.tombstoned_max.get(name, 0), version)
        return True

    def compact(self) -> None:
        """Compaction folds the tombstones away, and with them the memory of
        deleted version numbers."""
        self.tombstoned_max.clear()

    def download(self, name: str) -> bytes | None:
        version = self.latest(name)
        return None if version is None else self.live[name][version]

    def versions(self, name: str) -> list[int]:
        return sorted(self.live.get(name, {}))

    def meta_ok(self, name: str, meta: dict[str, str] | None) -> bool:
        content = self.download(name)
        if content is None or meta is None:
            return content is None and meta is None
        return (
            meta.get("sha256") == hashlib.sha256(content).hexdigest()
            and meta.get("length") == str(len(content))
        )

    def search(self, query: str, k: int = SEARCH_K) -> list[tuple[str, int, int]]:
        terms = {t for t in query.lower().split() if t}
        hits = []
        for name, versions in self.live.items():
            for version, content in versions.items():
                tokens = _SPLIT.split(content.decode("utf-8", "replace").lower())
                score = sum(1 for t in tokens if t in terms)
                if score > 0:
                    hits.append((-score, name, version))
        hits.sort()
        return [(name, version, -neg) for neg, name, version in hits[:k]]

    def live_bytes(self) -> int:
        return sum(len(c) for vs in self.live.values() for c in vs.values())
