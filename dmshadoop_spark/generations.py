"""Generation commits: the one protocol by which a table stored as a
directory publishes a new snapshot. ``dms.store.DocumentStore`` and the
substring-dedup occurrence index (``dedup/substring.py``) both commit
through it; nothing else knows this layout::

    <root>/gen=N/             generation N, committed once it holds _SUCCESS
    <root>/gen=N/_meta.json   optional manifest; its "carries" key lists the
                              older generations whose files gen=N reads too
    <root>/.staging-<hex>/    a commit being built, or a dead writer's debris

``commit`` builds the next generation in a staging directory no reader
lists and publishes it with ONE ``os.rename``, so a crash at any point
leaves the committed generations untouched and only debris behind, which
the next commit sweeps (``vacuum`` removes an unmarked directory below
the current generation) — the answer to the reference's non-atomic
two-store write (bug B5, src/DMS.py:121-165). Generations are immutable
once published. A table has one writer at a time, and the rename
enforces it (``ConcurrentWriteError``).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from collections.abc import Callable

_GEN_RE = re.compile(r"^gen=(\d+)$")
_MARKER = "_SUCCESS"
_MANIFEST = "_meta.json"
_STAGING_PREFIX = ".staging-"


class ConcurrentWriteError(RuntimeError):
    """Raised when a commit loses the atomic generation-claim race.

    A table is SINGLE-WRITER by contract (like the reference's DMS
    facade): concurrent committers are a misuse, but a detected one fails
    loudly here instead of corrupting the table — the loser's staged
    files are intact and its commit can simply be retried. For genuinely
    concurrent writers use a real table format (Delta/Iceberg), whose
    log-based optimistic concurrency this rename-claim mirrors in
    miniature."""


def gen_path(root: str, gen: int) -> str:
    """The directory of generation ``gen`` under ``root``."""
    return os.path.join(root, f"gen={gen}")


def _marked(path: str) -> bool:
    return os.path.exists(os.path.join(path, _MARKER))


def _numbered(root: str) -> list[int]:
    """The numbers of the ``gen=N`` directories under ``root``, marked or
    not, oldest first (none if ``root`` does not exist)."""
    if not os.path.isdir(root):
        return []
    return sorted(int(m.group(1)) for m in map(_GEN_RE.match, os.listdir(root)) if m)


def committed(root: str) -> list[int]:
    """The committed generation numbers under ``root``, oldest first
    (none if ``root`` does not exist). Unmarked ``gen=*`` directories
    are not generations."""
    return [g for g in _numbered(root) if is_committed(root, g)]


def is_committed(root: str, gen: int) -> bool:
    """Whether generation ``gen`` of ``root`` is committed (one stat)."""
    return _marked(gen_path(root, gen))


def _top(root: str) -> tuple[int | None, list[int]]:
    """The newest committed generation (None when there is none) and the
    unmarked ``gen=N`` numbers above it, newest first: one directory
    listing, then the markers from the newest number down to the first
    that is marked."""
    debris = []
    for g in reversed(_numbered(root)):
        if is_committed(root, g):
            return g, debris
        debris.append(g)
    return None, debris


def current(root: str) -> int | None:
    """The newest committed generation, or None when there is none (only
    debris sits above it; see ``_top``)."""
    return _top(root)[0]


def manifest(root: str, gen: int) -> dict | None:
    """Generation ``gen``'s ``_meta.json``, or None when it has none. A
    corrupt one raises: read as absent, it would silently drop the
    generations it carries from the snapshot and let ``vacuum`` delete
    them."""
    path = os.path.join(gen_path(root, gen), _MANIFEST)
    try:
        with open(path) as f:
            meta = json.load(f)
    except FileNotFoundError:
        return None
    except ValueError as exc:
        raise ValueError(f"corrupt manifest {path}: {exc}") from exc
    if not isinstance(meta, dict):
        raise ValueError(f"corrupt manifest {path}: not a JSON object")
    return meta


def carries(root: str, gen: int) -> list[int]:
    """The generations whose files generation ``gen`` reads in addition
    to its own, sorted (empty without a manifest or its "carries" key)."""
    meta = manifest(root, gen)
    return sorted(int(g) for g in (meta or {}).get("carries", []))


def snapshot(root: str) -> list[int]:
    """The generations the current snapshot reads: the current
    generation's carries, then itself (empty when nothing is
    committed)."""
    gen = current(root)
    return [] if gen is None else carries(root, gen) + [gen]


def write_manifest(staging: str, meta: dict) -> None:
    """Write ``meta`` as the manifest of the generation being staged."""
    with open(os.path.join(staging, _MANIFEST), "w") as f:
        json.dump(meta, f)


def sweep(root: str) -> int | None:
    """Remove crash debris and return the current generation (``_top``):
    ``.staging-*`` dirs and the unmarked ``gen=N`` dirs above the current
    one (a non-empty one would fail every later claim of its number).
    Only the markers ``_top`` reads are statted, so a commit costs no
    system call per older generation; an unmarked directory below the
    current one claims nothing and waits for ``vacuum``. Safe under the
    single-writer contract: when this writer starts a commit, such a
    directory can only be a dead writer's leftovers."""
    for entry in os.listdir(root):
        path = os.path.join(root, entry)
        if entry.startswith(_STAGING_PREFIX) and os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
    cur, debris = _top(root)
    for g in debris:
        shutil.rmtree(gen_path(root, g), ignore_errors=True)
    return cur


def staging_path(root: str) -> str:
    """A fresh staging directory path under ``root`` (not created)."""
    return os.path.join(root, f"{_STAGING_PREFIX}{uuid.uuid4().hex}")


def publish(root: str, staging: str, gen: int) -> None:
    """Publish a built, marked staging directory as generation ``gen``
    with ONE atomic ``os.rename`` — the commit point. The rename is also
    the claim: if another writer published ``gen`` first, it fails and
    this raises ``ConcurrentWriteError``, the staged commit left intact."""
    try:
        os.rename(staging, gen_path(root, gen))
    except OSError as exc:
        raise ConcurrentWriteError(
            f"generation {gen} of {root} was committed concurrently "
            f"(single-writer contract); staged commit left at {staging}"
        ) from exc


def commit(root: str, stage: Callable[[str], object]) -> int | None:
    """Commit the next generation of the table at ``root``: sweep debris,
    claim the number after the current generation, let ``stage`` write
    the generation's files into a fresh staging directory, mark it
    ``_SUCCESS`` and ``publish`` it. Returns the new generation number,
    or None when ``stage`` returns False (nothing to commit; the staging
    directory is removed). A ``stage`` that raises leaves debris."""
    os.makedirs(root, exist_ok=True)
    cur = sweep(root)
    gen = 0 if cur is None else cur + 1
    staging = staging_path(root)
    os.makedirs(staging)
    if stage(staging) is False:
        shutil.rmtree(staging)
        return None
    with open(os.path.join(staging, _MARKER), "w"):
        pass
    publish(root, staging, gen)
    return gen


def vacuum(root: str, keep_last: int = 1) -> list[int]:
    """Drop the committed generations that are neither among the newest
    ``keep_last`` nor carried by one of them (a kept generation reads
    its carried generations' files, so those directories must stay).
    Returns the removed generation numbers. Unmarked ``gen=N``
    directories below the current generation, which ``sweep`` leaves,
    are removed too (they are no generation, so they are not returned).

    Each dropped directory first leaves the listing with one rename to
    a staging path, so a removal that stops partway leaves debris for
    the next commit's ``sweep``, never a marked ``gen=N`` that lost
    files."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    gens = committed(root)
    kept = set(gens[-keep_last:])
    for g in gens[-keep_last:]:
        kept.update(carries(root, g))
    drop = [g for g in gens if g not in kept]
    top, marked = (gens[-1] if gens else -1), set(gens)
    unmarked = [g for g in _numbered(root) if g < top and g not in marked]
    for g in drop + unmarked:
        doomed = staging_path(root)
        os.rename(gen_path(root, g), doomed)
        shutil.rmtree(doomed)
    return drop
