"""DocumentStore — the reference's DMS surface over one Parquet dataset.

Reference data model (src/DMS.py): versioned documents as HBase wide rows
keyed ``v{version}.{filename}`` with families meta_data/file, content bytes
duplicated into both HBase and HDFS (src/DMS.py:121 + :125-130). Here the
composite string key is decomposed into typed (name, version) columns, and
content lives exactly once as a BINARY column — Parquet is the single
source of truth (SURVEY.md §1.3).

Storage layout: MVCC generation snapshots. ``base/gen=N/`` holds the table
at generation N and is immutable once committed. Inserts build generation
N+1 by hardlinking gen=N's part-files plus the new ones (no data rewrite —
see ``_commit``); an update rewrites only the part-file holding its row
(copy-on-write) and hardlinks the rest. Every commit goes through
``dmshadoop_spark/generations.py``, which owns the commit protocol
(staging directory, ``_SUCCESS`` marker, one atomic rename, debris
sweep, ``ConcurrentWriteError``): every commit is all-or-nothing and
readers always see a complete snapshot — the answer to the reference's
non-atomic two-store write (bug B5). On a production cluster the same
API binds to Delta/Iceberg and deletes become MERGE/DELETE.

Deletes are MERGE-ON-READ deletion vectors (round-10 verdict task 1 —
the rewrite-excluding-predicate delete was the last full-rewrite path on
this surface; at 100 TB a single-document delete rewriting a partition
is unusable). ``delete``/``delete_all_version`` commit generation N+1 as
gen=N's data files HARDLINKED UNCHANGED plus a tiny (name, version)
tombstone parquet under ``gen=N+1/_tombstones/`` — an ``_``-prefixed
child, so Spark's hidden-file filter keeps it out of the data scan.
Reads anti-join the broadcast tombstone set (tombstones are O(deletes),
never O(data)); ``compact()`` folds them back into a clean rewrite (the
copy-on-write step, now explicitly scheduled instead of paid per
delete). This is exactly Delta's deletion-vector / Iceberg's
merge-on-read delete-file design, rebuilt on the generation machinery.

Postings twin: every data file ``gen=N/part-X.parquet`` has a sibling
``gen=N/_postings/part-X.parquet`` holding its (term, name, version, tf)
rows, sorted by term, so ``search`` reads the postings of its query
terms instead of re-tokenizing every document. ``_postings/`` is
``_``-prefixed like ``_tombstones/``: the data scan never sees it, and
every commit carries it by hardlink together with the data files.
Tombstones mask postings at search time. ``compact`` and ``update``
rewrite the twins along with the data: on the driver they merge the old
twins minus the dropped keys, in Spark tasks ``compact`` re-tokenizes.

Execution rule. The one whole-snapshot rewrite, ``compact``, chooses
its path by size; every other call keeps a fixed path. A Spark job
costs a few hundred milliseconds of scheduling, which is the whole
price of a small call.

- ``compact`` runs on the driver through Arrow when the generation's
  data files take at most ``_DRIVER_REWRITE_BYTES`` once decoded
  (``layout()["data_bytes"]``: the ``length`` column's sum, so repeated
  contents count every time, plus the other columns' uncompressed
  footer sizes). There ``_rewrite_on_driver`` masks, sorts and slices
  the rows and merges the old postings twins instead of re-tokenizing.
  Larger generations are rewritten in ``mapInArrow`` tasks, which
  report the files they wrote (``_write_in_tasks``).
- The point calls (``download``, ``get_file_meta_data``,
  ``get_file_version``, ``get_lastest_version``, ``upload``, ``delete``,
  ``delete_all_version`` and ``update``) and ``search`` always run on
  the driver. They read the committed generation with
  ``pyarrow.dataset`` filtered on ``name`` (or, for ``search``, on the
  postings twins' ``term``), so they read one name's or one term's row
  groups, and apply its tombstones in memory. ``update`` streams the
  one file it rewrites, so it holds one row group at a time.
- ``bulk_ingest``, ``df()``, ``diff`` and ``delete_where``'s predicate
  scan take or return Spark frames and always run in Spark;
  ``delete_all`` commits an empty generation and reads nothing.

Every document file, data part and postings twin together, is written
by ``_write_docs``. Timing ``compact(cluster_by=["name"])`` both ways on
a 4-vCPU host (store of versioned 10-100-word distinct text documents,
9 data files, 2 tombstones; medians of 5 runs, 3 at the largest size;
driver vs Spark; sizes by the footers, within 1% of the decoded bytes
for distinct texts):

    2.3 MiB (5k docs)      146 ms   vs  1041 ms
    11.3 MiB (25k docs)    609 ms   vs  1860 ms
    22.7 MiB (50k docs)   1059 ms   vs  2561 ms
    45.2 MiB (100k docs)  2442 ms   vs  4952 ms
    113 MiB (250k docs)   6175 ms   vs 11872 ms

The driver path wins at every size measured, so the threshold is not a
crossover: its lead falls from 7x to 2x as Spark's fixed cost stops
mattering, but it does not end. What bounds it is driver memory, which
grows with the decoded input, postings twins included: the 113 MiB
rewrite above peaked at 0.94 GiB more driver RSS (8.4x its decoded
bytes), and stores of 5k texts each repeated under 10 and 30 names
peaked at 13.6x (17 MiB decoded, 5.4 MiB by the footers) and 11.4x
(51 MiB decoded, 16 MiB by the footers). ``_DRIVER_REWRITE_BYTES`` is
32 MiB, which keeps that peak under half a GiB at the highest ratio
measured.

Fixed reference bugs (SURVEY.md §2 notes):
  B1 — latest version is numeric max(version), not a string sort
       (src/DMS.py:391 sorts "10" < "9").
  B2 — version listing matches the name by equality on the typed column,
       not an unanchored regex (src/DMS.py:373 matches 'a.txt' in
       'bba.txt').
  B3 — dotted filenames survive (no key.split('.')[1] surgery,
       src/DMS.py:413).
  B8 — update() actually works (the reference's is dead code: undefined
       't' at src/DMS.py:228 → always False).
"""

from __future__ import annotations

import datetime
import functools
import operator
import os
import shutil
import uuid
from collections.abc import Callable, Iterable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from dmshadoop_spark import generations
from dmshadoop_spark.dms.extract import extract_metadata
# re-exported: callers catch a lost commit race as dms.store's error
from dmshadoop_spark.generations import ConcurrentWriteError  # noqa: F401

DOCUMENT_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("version", IntegerType()),
        StructField("content", BinaryType()),
        StructField("content_hash", StringType()),
        StructField("length", LongType()),
        StructField("modification_time", TimestampNTZType()),
        StructField("meta", MapType(StringType(), StringType())),
    ]
)

TOMBSTONE_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("version", IntegerType()),
    ]
)

# the same two schemas for the driver path's pyarrow reads and writes
_ARROW_DOCUMENT_SCHEMA = to_arrow_schema(DOCUMENT_SCHEMA)
_ARROW_TOMBSTONE_SCHEMA = to_arrow_schema(TOMBSTONE_SCHEMA)

# one row per (term, document) of a text/plain document: tf is how many
# of the document's tokens equal the term
_ARROW_POSTINGS_SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("name", pa.string()),
        ("version", pa.int32()),
        ("tf", pa.int32()),
    ]
)
_POSTINGS_ORDER = [
    ("term", "ascending"),
    ("name", "ascending"),
    ("version", "ascending"),
]

# search's answer
_ARROW_HITS_SCHEMA = pa.schema(
    [("name", pa.string()), ("version", pa.int32()), ("score", pa.int32())]
)

# what a mapInArrow write task reports per file pair it wrote: its
# attempt directory, the part file name and the part's rows
_REPORT_SCHEMA = "dir string, part string, rows long"

_TOMBSTONE_DIR = "_tombstones"
_POSTINGS_DIR = "_postings"
# inside a staging directory: one hidden subdirectory per task attempt
_ATTEMPTS_DIR = ".attempts"

# Rows per row group of a postings file. The file is sorted by term, so
# each row group's footer min/max covers a narrow term range and a search
# reads only the row groups whose range holds one of its terms.
_POSTINGS_ROW_GROUP = 16384

# ``compact`` of a generation whose data files take at most this many
# bytes once decoded runs on the driver: a bound on driver memory, see
# the module docstring's execution rule.
_DRIVER_REWRITE_BYTES = 32 * 2**20

# Upper bound on part files per bulk-delete tombstone commit (round-11
# verdict task 4): a predicate-shaped delete writes its key set through
# at most this many tasks, so a delete matching millions of keys neither
# serializes through one task nor sprays one file per scan partition.
_TOMBSTONE_COMMIT_FILES = 16


def _visible_files(dir_path: str) -> list[str]:
    """Paths of the visible data files directly under ``dir_path`` (none
    if it does not exist); markers and hidden files (``_``/``.``-prefixed)
    are skipped."""
    if not os.path.isdir(dir_path):
        return []
    return [
        os.path.join(dir_path, fn)
        for fn in sorted(os.listdir(dir_path))
        if not fn.startswith(("_", "."))
        and os.path.isfile(os.path.join(dir_path, fn))
    ]


def _link_visible(src_dir: str, dst_dir: str, skip: str | None = None) -> None:
    """Hardlink every visible data file from ``src_dir`` into ``dst_dir``
    (copy on cross-device), except the one named ``skip``. Names are kept
    — part files carry a fresh UUID, so files from different commits
    can't collide."""
    for src in _visible_files(src_dir):
        if os.path.basename(src) == skip:
            continue
        dst = os.path.join(dst_dir, os.path.basename(src))
        try:
            os.link(src, dst)
        except OSError:  # cross-device fallback
            shutil.copy2(src, dst)


def _footer_rows(files: list[str]) -> int:
    """Total rows of ``files``, read from their parquet footers."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _decoded_bytes(files: list[str]) -> int:
    """Bytes the document files ``files`` take once decoded: the sum of
    their ``length`` column (the content bytes, which dictionary encoding
    stores once however often a content repeats) plus the uncompressed
    size of every other column chunk, read from the parquet footers."""
    total = 0
    for f in files:
        pf = pq.ParquetFile(f)
        md = pf.metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            total += sum(
                rg.column(j).total_uncompressed_size
                for j in range(rg.num_columns)
                if rg.column(j).path_in_schema != "content"
            )
        total += pc.sum(pf.read(columns=["length"]).column(0)).as_py() or 0
    return total


def _keys(rows: pa.Table) -> pa.ChunkedArray:
    """The (name, version) key of each of ``rows`` as one
    ``name\\x00version`` string, for ``pc.is_in``: Acero's joins reject
    the map column of document rows."""
    return pc.binary_join_element_wise(
        rows.column("name"), rows.column("version").cast(pa.string()), "\x00"
    )


def _changes(col: pa.ChunkedArray) -> pa.ChunkedArray:
    """For each row of ``col`` but the first, whether its value differs
    from the row before (a null differs from a value, not from a null)."""
    after, before = col.slice(1), col.slice(0, len(col) - 1)
    return pc.or_(
        pc.fill_null(pc.not_equal(after, before), False),
        pc.xor(pc.is_null(after), pc.is_null(before)),
    )


def _twin(data_file: str) -> str:
    """The postings file of a data file."""
    head, part = os.path.split(data_file)
    return os.path.join(head, _POSTINGS_DIR, part)


def _write_part(table: pa.Table, dir_path: str) -> None:
    """Write a tombstone ``table`` as one new parquet part file under
    ``dir_path``."""
    os.makedirs(dir_path, exist_ok=True)
    pq.write_table(
        table,
        os.path.join(dir_path, f"part-{uuid.uuid4().hex}.parquet"),
        store_schema=False,
    )


def _terms(texts: pa.Array) -> pa.Array:
    """The tokenizer of documents and queries alike: ``utf8_lower``, then
    ``utf8_split_whitespace`` (any Unicode whitespace separates), as one
    list of tokens per string; empty tokens are left for the caller to
    drop."""
    return pc.utf8_split_whitespace(pc.utf8_lower(texts))


def _postings_of(docs: pa.Table) -> pa.Table:
    """The postings of ``docs`` (document rows): one (term, name, version,
    tf) row per distinct term of each text/plain document, sorted by term.
    Vectorized in ``pyarrow.compute``. A content that is not valid UTF-8
    (only possible when ``extra_meta`` sets the content type) is decoded
    with U+FFFD in place of the bad bytes, as the Spark cast did."""
    kind = pc.map_lookup(docs.column("meta"), "content_type", "first")
    docs = docs.filter(pc.fill_null(pc.equal(kind, "text/plain"), False))
    content = docs.column("content")
    try:
        text = content.cast(pa.string())
    except pa.ArrowInvalid:
        text = pa.array(
            [
                None if c is None else c.decode("utf-8", "replace")
                for c in content.to_pylist()
            ],
            pa.string(),
        )
    tokens = _terms(text)
    pairs = pa.table(
        {
            "term": pc.list_flatten(tokens),
            "doc": pc.list_parent_indices(tokens),
        }
    )
    pairs = pairs.filter(pc.greater(pc.utf8_length(pairs.column("term")), 0))
    tf = pairs.group_by(["term", "doc"]).aggregate([([], "count_all")])
    doc = tf.column("doc")
    return pa.table(
        [
            tf.column("term"),
            pc.take(docs.column("name"), doc),
            pc.take(docs.column("version"), doc),
            tf.column("count_all").cast(pa.int32()),
        ],
        schema=_ARROW_POSTINGS_SCHEMA,
    ).sort_by(_POSTINGS_ORDER)


def _merged_postings(
    path: str, drop: Callable[[pa.Table], pa.ChunkedArray], add: pa.Table
) -> Iterable[pa.Table]:
    """The postings file ``path`` minus the rows ``drop`` marks, plus the
    postings ``add``, streamed in ``_POSTINGS_ORDER``: each row group of
    ``path`` with the rows of ``add`` that sort before its last row, then
    the rest of ``add``. One row group is held at a time."""
    pf = pq.ParquetFile(path)
    for i in range(pf.num_row_groups):
        rows = pf.read_row_group(i).cast(_ARROW_POSTINGS_SCHEMA)
        rows = rows.filter(pc.invert(drop(rows)))
        if not rows.num_rows:
            continue
        both = pa.concat_tables([rows, add])
        order = pc.sort_indices(both, sort_keys=_POSTINGS_ORDER)
        cut = pc.index(order, rows.num_rows - 1).as_py() + 1
        yield both.take(order[:cut])
        add = both.take(order[cut:])
    if add.num_rows:
        yield add


def _write_docs(
    docs: pa.Table | Iterable[pa.RecordBatch],
    dir_path: str,
    postings: pa.Table | Iterable[pa.Table] | None = None,
) -> tuple[str, int] | None:
    """The one writer of document files. Streams ``docs`` (document rows,
    a table or record batches) batch by batch through one
    ``pq.ParquetWriter`` into a new part file under ``dir_path``, and
    writes the part's postings twin, sorted by term in row groups of at
    most ``_POSTINGS_ROW_GROUP``, under ``dir_path/_postings/`` with the
    same file name. The twin is ``postings`` when given (the postings of
    exactly these rows in ``_POSTINGS_ORDER``, a table or tables streamed
    one at a time), else the rows are tokenized batch by batch and only
    the postings are buffered. Returns
    (part file name, rows), or None when ``docs`` has no row (nothing is
    written).

    Footer statistics cover only what prunes: the scalar columns of the
    data part (min/max of ``content`` and ``meta`` would copy the
    document into the footer again) and the twin's ``term``. The Arrow
    schema is not stored; every reader passes its own."""
    batches = docs.to_batches() if isinstance(docs, pa.Table) else docs
    part = f"part-{uuid.uuid4().hex}.parquet"
    writer = None
    tokenized = []
    rows = 0
    try:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            table = pa.Table.from_batches([batch]).cast(_ARROW_DOCUMENT_SCHEMA)
            if writer is None:
                os.makedirs(dir_path, exist_ok=True)
                writer = pq.ParquetWriter(
                    os.path.join(dir_path, part),
                    _ARROW_DOCUMENT_SCHEMA,
                    write_statistics=[
                        f.name
                        for f in _ARROW_DOCUMENT_SCHEMA
                        if f.name not in ("content", "meta")
                    ],
                    store_schema=False,
                )
            writer.write_table(table)
            if postings is None:
                tokenized.append(_postings_of(table))
            rows += table.num_rows
    finally:
        if writer is not None:
            writer.close()
    if writer is None:
        return None
    twin = postings
    if twin is None:
        twin = pa.concat_tables(tokenized).sort_by(_POSTINGS_ORDER)
    os.makedirs(os.path.join(dir_path, _POSTINGS_DIR), exist_ok=True)
    with pq.ParquetWriter(
        os.path.join(dir_path, _POSTINGS_DIR, part),
        _ARROW_POSTINGS_SCHEMA,
        write_statistics=["term"],
        store_schema=False,
    ) as writer:
        for table in [twin] if isinstance(twin, pa.Table) else twin:
            writer.write_table(table, row_group_size=_POSTINGS_ROW_GROUP)
    return part, rows


def _make_row(
    name: str,
    version: int,
    content: bytes,
    extra_meta: dict[str, str] | None,
) -> dict:
    """One document row, keyed by ``DOCUMENT_SCHEMA``'s field names. A
    document without content is refused: ValueError naming it."""
    if content is None:
        raise ValueError(f"document {name!r} has null content")
    meta = extract_metadata(content)
    if extra_meta:
        meta.update({str(k): str(v) for k, v in extra_meta.items()})
    now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    return {
        "name": name,
        "version": version,
        "content": content,
        "content_hash": meta["sha256"],
        "length": len(content),
        "modification_time": now,
        "meta": meta,
    }


def _extracted(batch: pa.RecordBatch) -> pa.RecordBatch:
    """(name, version, content) rows → document rows, through
    ``_make_row``."""
    return pa.RecordBatch.from_pylist(
        [
            _make_row(r["name"], r["version"], r["content"], None)
            for r in batch.to_pylist()
        ],
        schema=_ARROW_DOCUMENT_SCHEMA,
    )


def _docs_task(attempts: str, extract: bool):
    """The ``mapInArrow`` function of a Spark-shaped write: each task
    attempt writes its partition through ``_write_docs`` into its own
    directory under ``attempts`` and reports what it wrote (one
    ``_REPORT_SCHEMA`` row, none for an empty partition). ``extract``
    turns (name, version, content) input into document rows first."""

    def task(batches):
        from pyspark import TaskContext

        out = os.path.join(attempts, str(TaskContext.get().taskAttemptId()))
        written = _write_docs(
            map(_extracted, batches) if extract else batches, out
        )
        if written is not None:
            part, rows = written
            yield pa.RecordBatch.from_pylist(
                [{"dir": out, "part": part, "rows": rows}]
            )

    return task


def _place_reported(staging: str, reports: list) -> None:
    """Move the file pairs that task attempts reported from their attempt
    directories into ``staging``, then remove the attempt directories.
    Spark returns the report of exactly one successful attempt per
    partition, so whatever a failed, retried or duplicate attempt wrote
    is removed here and never published."""
    os.makedirs(os.path.join(staging, _POSTINGS_DIR), exist_ok=True)
    for r in reports:
        src = os.path.join(r["dir"], r["part"])
        dst = os.path.join(staging, r["part"])
        os.rename(src, dst)
        os.rename(_twin(src), _twin(dst))
    attempts = os.path.join(staging, _ATTEMPTS_DIR)
    if os.path.isdir(attempts):
        shutil.rmtree(attempts)


def _write_in_tasks(
    rows: DataFrame, staging: str, extract: bool = False
) -> int:
    """Write ``rows`` into ``staging`` through ``_write_docs`` inside
    ``mapInArrow`` tasks, one data part and its postings twin per
    non-empty partition, and return the number of rows written. Each
    task attempt writes under its own hidden directory in
    ``staging/.attempts/``; only the files that the reported attempts
    wrote are moved into place (``_place_reported``). ``extract``:
    ``rows`` are (name, version, content), and each task builds the
    document rows, metadata included, through ``_make_row``."""
    attempts = os.path.join(staging, _ATTEMPTS_DIR)
    task = _docs_task(attempts, extract)
    reports = rows.mapInArrow(task, _REPORT_SCHEMA).collect()
    _place_reported(staging, reports)
    return sum(r["rows"] for r in reports)


def _pick(rows: list[dict], version: int | None) -> dict | None:
    """The row of ``version`` among one name's live rows, or the row of
    its latest version when ``version`` is None."""
    if version is None:
        return max(rows, key=lambda r: r["version"], default=None)
    return next((r for r in rows if r["version"] == version), None)


class DocumentStore:
    """DMS facade: upload/download/update/delete/get_*/search over Parquet.

    CONCURRENCY CONTRACT (round-11 verdict task 3): single-writer, any
    number of readers, enforced by the commit protocol of
    ``dmshadoop_spark/generations.py``: readers only see committed
    generations, and a racing second writer gets ``ConcurrentWriteError``
    instead of a torn or interleaved generation. Multi-writer deployments
    should bind this API to Delta/Iceberg, whose transaction log provides
    real optimistic concurrency across processes.

    EXECUTION RULE: see the module docstring. Every document file, data
    part and postings twin together, is written by ``_write_docs``."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    # -- storage plumbing --------------------------------------------------

    def _resolve(self, generation: int | None) -> int | None:
        """``generation`` if committed (ValueError otherwise), or the
        current generation when None (None for an empty store)."""
        if generation is None:
            return generations.current(self.base_dir)
        if generation not in generations.committed(self.base_dir):
            raise ValueError(f"no committed generation {generation}")
        return generation

    def _gen_path(self, gen: int) -> str:
        return generations.gen_path(self.base_dir, gen)

    def _tombstone_dir(self, gen: int) -> str:
        return os.path.join(self._gen_path(gen), _TOMBSTONE_DIR)

    def _data_files(self, gen: int) -> list[str]:
        return _visible_files(self._gen_path(gen))

    def _tombstone_files(self, gen: int) -> list[str]:
        return _visible_files(self._tombstone_dir(gen))

    def _tombstones(self, gen: int) -> DataFrame | None:
        """The generation's deletion-vector frame (name, version), or
        None when the snapshot carries no tombstones. Lives under an
        ``_``-prefixed child of the generation dir, which Spark's
        hidden-file filter excludes from the data scan (the
        ``_delta_log`` trick). It is read by its explicit part-file
        list: addressing the ``_``-prefixed directory itself makes Spark
        warn that all paths were ignored."""
        files = self._tombstone_files(gen)
        if not files:
            return None
        return self.spark.read.schema(TOMBSTONE_SCHEMA).parquet(*files)

    def _rows(
        self,
        name: str,
        columns: tuple[str, ...] = (),
        generation: int | None = None,
    ) -> tuple[list[dict], set[int]]:
        """Driver-path read of one name in a committed generation (default:
        the current one): its live rows (``version`` plus ``columns``) and
        its tombstoned versions. ``pyarrow.dataset`` reads the
        generation's files filtered on ``name`` — footer statistics skip
        the row groups whose name range cannot match, and
        ``compact(cluster_by=["name"])`` makes those ranges disjoint —
        and the tombstones are applied in memory, the same anti-join
        ``df()`` runs in Spark. No Spark job."""
        gen = self._resolve(generation)
        if gen is None:
            return [], set()
        match = ds.field("name") == name
        dead: set[int] = set()
        tomb_files = self._tombstone_files(gen)
        if tomb_files:
            tombs = ds.dataset(tomb_files, schema=_ARROW_TOMBSTONE_SCHEMA)
            dead = set(
                tombs.to_table(columns=["version"], filter=match)
                .column("version")
                .to_pylist()
            )
        data = ds.dataset(self._data_files(gen), schema=_ARROW_DOCUMENT_SCHEMA)
        rows = data.to_table(columns=["version", *columns], filter=match)
        return [r for r in rows.to_pylist() if r["version"] not in dead], dead

    def df(self, generation: int | None = None) -> DataFrame:
        """A table snapshot (empty, schema-stable, if no data).

        ``generation`` time-travels to an older committed snapshot —
        generations are immutable once marked, so historical reads are
        exact and stable (the Delta/Iceberg ``VERSION AS OF`` analogue).

        Merge-on-read: when the generation carries deletion vectors, the
        scan anti-joins the broadcast tombstone key set. Tombstones are
        O(deletes committed since the last compaction) — a broadcast of
        a few thousand (name, version) pairs against a 100 TB scan, not
        a second data pass; ``compact()`` folds them away."""
        gen = self._resolve(generation)
        if gen is None:
            return self.spark.createDataFrame([], DOCUMENT_SCHEMA)
        data = self.spark.read.schema(DOCUMENT_SCHEMA).parquet(
            self._gen_path(gen)
        )
        tombs = self._tombstones(gen)
        if tombs is not None:
            data = data.join(
                F.broadcast(tombs), ["name", "version"], "left_anti"
            )
        return data

    def history(self) -> list[int]:
        """All committed generation numbers, oldest first."""
        return generations.committed(self.base_dir)

    def diff(self, from_gen: int, to_gen: int) -> DataFrame:
        """Change-data feed between two committed generations — the
        Delta CHANGE DATA FEED analogue, derivable here because snapshots
        are immutable. Returns (change_type ∈ insert|delete|update, name,
        version); rows identical in both snapshots are omitted. One full
        outer join on the document key; row identity is fingerprinted from
        (content_hash, length, sorted meta entries) so carried-over rows
        never read their content column, and modification_time churn does
        not produce false updates."""

        def fp(df: DataFrame) -> DataFrame:
            return df.select(
                "name",
                "version",
                F.concat_ws(
                    ":",
                    "content_hash",
                    F.col("length").cast("string"),
                    F.coalesce(
                        F.to_json(F.sort_array(F.map_entries("meta"))), F.lit("")
                    ),
                ).alias("fp"),
            )

        a, b = fp(self.df(from_gen)).alias("a"), fp(self.df(to_gen)).alias("b")
        j = a.join(b, ["name", "version"], "full_outer")
        return j.select(
            F.when(F.col("a.fp").isNull(), F.lit("insert"))
            .when(F.col("b.fp").isNull(), F.lit("delete"))
            .when(F.col("a.fp") != F.col("b.fp"), F.lit("update"))
            .alias("change_type"),
            "name",
            "version",
        ).filter(F.col("change_type").isNotNull())

    def compact(
        self,
        target_files: int = 1,
        cluster_by: list[str] | None = None,
    ) -> int | None:
        """Rewrite the current snapshot's live rows into ``target_files``
        part-files as a NEW generation — the OPTIMIZE analogue, and the
        copy-on-write half of the merge-on-read delete design: the result
        carries no tombstones, and ``diff`` old→new is empty. Old
        generations stay time-travelable. Returns the new generation
        number.

        The execution rule picks the path: at most
        ``_DRIVER_REWRITE_BYTES`` decoded, ``_rewrite_on_driver`` (Arrow,
        no Spark job, twins merged); above it, a ``repartition`` (or
        ``repartitionByRange``) of ``df()`` written in ``mapInArrow``
        tasks that re-tokenize the twins. Both give the same rows and
        postings.

        ``cluster_by`` sorts the rewrite on the given columns (``["name"]``
        is the natural choice) and gives every part file a DISJOINT key
        range, so footer min/max statistics let the point reads skip every
        other file. Same rows either way; only the layout differs."""
        gen = self._resolve(None)
        if gen is None:
            return None
        if _decoded_bytes(self._data_files(gen)) <= _DRIVER_REWRITE_BYTES:
            return self._rewrite_on_driver(gen, target_files, cluster_by)
        if cluster_by:
            snap = (
                self.df()
                .repartitionByRange(target_files, *cluster_by)
                .sortWithinPartitions(*cluster_by)
            )
        else:
            snap = self.df().repartition(target_files)
        return self._commit(
            lambda staging: _write_in_tasks(snap, staging), None
        )

    def _rewrite_on_driver(
        self,
        gen: int,
        target_files: int = 1,
        cluster_by: list[str] | None = None,
    ) -> int:
        """``compact`` on the driver through Arrow: commit the live rows of
        generation ``gen`` (its rows minus its tombstoned keys) as a new
        generation with no base. Sorted by ``cluster_by`` when given, they
        are cut into ``target_files`` contiguous slices (at ``cluster_by``
        key boundaries, so clustered files cover disjoint ranges as
        ``repartitionByRange`` gives), and each slice is written by
        ``_write_docs``.

        The postings are merged, not rebuilt: ``gen``'s twins minus the
        tombstoned keys, split per slice. A data file without a twin is
        tokenized from its rows. Returns the new generation number."""
        files = self._data_files(gen)
        bare = [f for f in files if not os.path.isfile(_twin(f))]
        twins = [_twin(f) for f in files if f not in bare]
        docs = ds.dataset(files, schema=_ARROW_DOCUMENT_SCHEMA).to_table()
        postings = [
            ds.dataset(twins, schema=_ARROW_POSTINGS_SCHEMA).to_table(),
            _postings_of(
                ds.dataset(bare, schema=_ARROW_DOCUMENT_SCHEMA).to_table()
            ),
        ]
        tombs = ds.dataset(
            self._tombstone_files(gen), schema=_ARROW_TOMBSTONE_SCHEMA
        ).to_table()
        dead = _keys(tombs).combine_chunks()

        def live(rows: pa.Table) -> pa.Table:
            return rows.filter(pc.invert(pc.is_in(_keys(rows), value_set=dead)))

        docs = live(docs)
        postings = pa.concat_tables(map(live, postings)).sort_by(
            _POSTINGS_ORDER
        )
        n = docs.num_rows
        starts = None  # rows whose cluster_by key differs from the row before
        if cluster_by:
            docs = docs.sort_by([(c, "ascending") for c in cluster_by])
            if target_files > 1 and n > 1:
                changed = functools.reduce(
                    pc.or_, (_changes(docs.column(c)) for c in cluster_by)
                )
                starts = pc.indices_nonzero(changed).to_numpy() + 1
        cuts = [0]
        for i in range(1, target_files):
            cut = max(cuts[-1], n * i // target_files)
            if starts is not None and 0 < cut < n:
                # move the cut forward to the next key boundary
                j = np.searchsorted(starts, cut)
                cut = int(starts[j]) if j < len(starts) else n
            cuts.append(cut)
        cuts.append(n)
        postings_keys = _keys(postings) if target_files > 1 else None
        # row groups the size of the Arrow batches Spark's write tasks get
        batch = int(
            self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        )

        def stage(staging: str) -> None:
            for lo, hi in zip(cuts, cuts[1:]):
                if lo == hi:
                    continue
                part = docs.slice(lo, hi - lo).combine_chunks()
                twin = postings
                if postings_keys is not None:
                    mine = _keys(part).combine_chunks()
                    twin = postings.filter(
                        pc.is_in(postings_keys, value_set=mine)
                    )
                _write_docs(
                    part.to_batches(batch if batch > 0 else None), staging, twin
                )

        return self._commit(stage, None)

    def restore(self, generation: int) -> int:
        """RESTORE TABLE analogue: commit a NEW generation whose content
        is exactly the committed ``generation`` — rolling FORWARD to an
        old state rather than rewinding history (the immutability
        invariant holds; intermediate generations stay time-travelable
        until vacuumed). Pure metadata: the target's data files, postings
        twins and tombstone sidecar are hardlinked, nothing is read or
        copied. Returns the new generation number."""
        return self._commit(None, self._resolve(generation))

    def vacuum(self, keep_last: int = 1) -> list[int]:
        """Drop all but the newest ``keep_last`` committed generations —
        the retention/VACUUM analogue (``generations.vacuum``). Part-files
        are hardlinked between generations (shared inodes), so removing an
        old generation's directory never disturbs data reachable from
        newer snapshots; only time travel to the removed generations is
        lost. Returns the removed generation numbers."""
        return generations.vacuum(self.base_dir, keep_last)

    def _commit(
        self,
        stage: Callable[[str], object] | None,
        base: int | None,
        skip: str | None = None,
    ) -> int | None:
        """The one commit of every write, through ``generations.commit``.
        Its stage callback lets ``stage`` write the new files into the
        staging directory, then hardlinks ``base``'s data files, postings
        twins and tombstone sidecar into it (data is never copied; O(files)
        metadata ops; ``base=None`` carries nothing — a full rewrite). The
        data file named ``skip`` and its twin are not carried: ``update``
        staged their replacement. Returns the new generation number; a
        ``stage`` that returns False staged nothing to commit, and then
        nothing is published and None is returned."""

        def build(staging: str) -> bool:
            if stage is not None and stage(staging) is False:
                return False
            if base is not None:
                _link_visible(self._gen_path(base), staging, skip)
                for sidecar in (_TOMBSTONE_DIR, _POSTINGS_DIR):
                    src = os.path.join(self._gen_path(base), sidecar)
                    if os.path.isdir(src):
                        dst = os.path.join(staging, sidecar)
                        os.makedirs(dst, exist_ok=True)
                        _link_visible(src, dst, skip)
            return True

        return generations.commit(self.base_dir, build)

    def _delete_keys(self, keys: list[tuple[str, int]]) -> None:
        """Merge-on-read delete commit: generation N+1 is gen=N's data
        files hardlinked UNCHANGED (zero data read or rewritten — the
        100-TB requirement) plus the prior tombstones plus one new tiny
        (name, version) tombstone parquet under ``_tombstones/``, through
        the shared ``_commit``. The rewrite that physically drops the
        rows is ``compact()`` — scheduled maintenance, not per-delete
        cost. The tombstone file is written by pyarrow on the driver: the
        key set is a bounded list, and a Spark write of it measured 4.4 s
        per delete against ~0.15 s. The bulk path is ``delete_where``."""
        tbl = pa.Table.from_pylist(
            [{"name": n, "version": int(v)} for n, v in keys],
            schema=_ARROW_TOMBSTONE_SCHEMA,
        )
        # one part file per delete commit keeps sidecar file count =
        # number of delete commits since the last compaction
        self._commit(
            lambda staging: _write_part(
                tbl, os.path.join(staging, _TOMBSTONE_DIR)
            ),
            self._resolve(None),
        )

    def delete_where(self, predicate) -> int:
        """Bulk merge-on-read delete: tombstone every (name, version)
        row matching ``predicate`` (a Column or SQL string over the
        document schema) in ONE commit through ``_commit``, returning the
        number of keys tombstoned (0, and nothing published, when no key
        matches). The predicate scan is the only data-dependent work
        (column-pruned — the content column is never read unless the
        predicate names it); data files are hardlinked unchanged, same
        as ``delete``. The key set is written distributed into the staged
        sidecar through at most ``_TOMBSTONE_COMMIT_FILES`` tasks
        (``coalesce``: no shuffle, no driver collect); the key count comes
        from the staged files' footers."""
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        gen = self._resolve(None)
        if gen is None:
            return 0
        keys = self.df().filter(cond).select("name", "version")
        n = 0

        def stage(staging: str) -> bool:
            nonlocal n
            sidecar = os.path.join(staging, _TOMBSTONE_DIR)
            # tombstone keys, not document rows: Spark's writer is fine here
            keys.coalesce(_TOMBSTONE_COMMIT_FILES).write.parquet(sidecar)
            n = _footer_rows(_visible_files(sidecar))
            return n > 0

        self._commit(stage, gen)
        return n

    def layout(self, generation: int | None = None) -> dict[str, int]:
        """Physical-layout facts for one committed generation: data file
        count, ``data_bytes`` (the bytes its data files take once decoded,
        which the execution rule compares with ``_DRIVER_REWRITE_BYTES`` to
        tell where ``compact`` will run), tombstone file/row counts,
        postings file/row counts, how many data files are inode-shared
        with the PREVIOUS generation (the merge-on-read pin: a delete
        commit shares every data file, an update all but one, a compact
        none), and the store's committed ``generations`` count. Byte and
        row counts come from the parquet footers and the ``length``
        column, read with pyarrow, so no Spark job runs."""
        gen = self._resolve(generation)
        committed = generations.committed(self.base_dir)
        data_files, tomb_files, postings_files = [], [], []
        prev_inodes: set[int] = set()
        if gen is not None:
            data_files = self._data_files(gen)
            tomb_files = self._tombstone_files(gen)
            postings_files = _visible_files(
                os.path.join(self._gen_path(gen), _POSTINGS_DIR)
            )
        if gen is not None and gen - 1 in committed:
            prev_inodes = {
                os.stat(f).st_ino for f in self._data_files(gen - 1)
            }
        shared = sum(1 for f in data_files if os.stat(f).st_ino in prev_inodes)
        return {
            "data_files": len(data_files),
            "data_bytes": _decoded_bytes(data_files),
            "tombstone_files": len(tomb_files),
            "tombstone_rows": _footer_rows(tomb_files),
            "postings_files": len(postings_files),
            "postings_rows": _footer_rows(postings_files),
            "data_files_shared_with_prev": shared,
            "generations": len(committed),
        }

    # -- write path --------------------------------------------------------

    def upload(
        self,
        name: str,
        content: bytes,
        extra_meta: dict[str, str] | None = None,
    ) -> int:
        """Insert a new version on the driver path: next = numeric
        max(version)+1 over live and tombstoned versions (one filtered
        Arrow read — replaces the reference's O(versions)-scans probe
        loop, src/DMS.py:113-117), then ONE data file and its postings
        twin, written by ``_write_docs`` and committed as the next
        generation (vs N+2 sequential HTTP inserts, src/DMS.py:125-165).
        No Spark job."""
        version = self._max_version_any(name) + 1
        row = pa.Table.from_pylist(
            [_make_row(name, version, content, extra_meta)],
            schema=_ARROW_DOCUMENT_SCHEMA,
        )
        self._commit(
            lambda staging: _write_docs(row, staging), self._resolve(None)
        )
        return version

    def _max_version_any(self, name: str) -> int:
        """Max version over LIVE rows ∪ TOMBSTONED keys. Version numbers
        are never reused once tombstoned: a re-uploaded (name, version)
        pair matching an old deletion vector would be masked on read,
        and reuse would also break snapshot identity for ``diff``/time
        travel (same key, different content across generations)."""
        live, dead = self._rows(name)
        return max([r["version"] for r in live] + list(dead), default=0)

    def bulk_ingest(self, files: DataFrame) -> int:
        """Distributed ingest of many documents in ONE job — the scale path
        the reference structurally lacks (its upload is a per-document HTTP
        loop with O(versions) scans each, src/DMS.py:94-172).

        ``files`` needs columns (name STRING, content BINARY) — e.g. the
        output of ``spark.read.format('binaryFile')`` renamed. Version
        assignment is set-oriented: current max(version) per name from one
        aggregate, joined in, plus a per-name row_number for batches that
        carry several documents of the same name. The write tasks extract
        the metadata (``_make_row``) and write each partition's data part
        and postings twin (``_write_in_tasks``). Returns the number of rows
        ingested."""
        from pyspark.sql import Window

        keys = self.df().select("name", "version")
        cur = self._resolve(None)
        tombs = self._tombstones(cur) if cur is not None else None
        if tombs is not None:
            # never reuse tombstoned versions — see _max_version_any
            keys = keys.unionByName(tombs)
        latest = keys.groupBy("name").agg(
            F.max("version").alias("_base_version")
        )
        w = Window.partitionBy("name").orderBy(F.length("content"), "content")
        # The window's shuffle on name, with its partition count pinned:
        # AQE does not coalesce a repartition by count, so a batch is
        # written by up to spark.sql.shuffle.partitions tasks in parallel
        # (one data part each), not folded into one task.
        parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        rows = (
            files.repartition(parts, "name")
            .join(latest, "name", "left")
            .select(
                "name",
                (
                    F.coalesce(F.col("_base_version"), F.lit(0))
                    + F.row_number().over(w)
                )
                .cast("int")
                .alias("version"),
                "content",
            )
        )
        ingested = 0

        def stage(staging: str) -> None:
            nonlocal ingested
            ingested = _write_in_tasks(rows, staging, extract=True)

        self._commit(stage, cur)
        return ingested

    def update(
        self,
        name: str,
        content: bytes,
        version: int | None = None,
        extra_meta: dict[str, str] | None = None,
    ) -> bool:
        """Overwrite a version in place (the reference's update is dead
        code — bug B8, src/DMS.py:228); False when there is no such row.
        Copy-on-write of the one data file that holds the row, as Delta
        Lake's UPDATE, on the driver with no Spark job: the point read
        finds the file, which is streamed one row group at a time into
        ``_write_docs`` with the replacement at the old row's index (the
        order and row-group sizes are kept), and its twin likewise through
        ``_merged_postings`` (a file without a twin is tokenized). Every
        other file is hardlinked, tombstones included, so the new
        generation shares ``data_files - 1`` data files with the last."""
        gen = self._resolve(None)
        row = _pick(self._rows(name, ("__filename",), gen)[0], version or None)
        if row is None:
            return False
        path, v = row["__filename"], row["version"]

        def key(rows: pa.Table) -> pa.ChunkedArray:
            same = pc.and_(
                pc.equal(rows["name"], name), pc.equal(rows["version"], v)
            )
            return pc.fill_null(same, False)

        replacement = pa.Table.from_pylist(
            [_make_row(name, v, content, extra_meta)],
            schema=_ARROW_DOCUMENT_SCHEMA,
        )

        def docs() -> Iterable[pa.RecordBatch]:
            pf = pq.ParquetFile(path)
            for i in range(pf.num_row_groups):
                rows = pf.read_row_group(i).cast(_ARROW_DOCUMENT_SCHEMA)
                at = pc.index(key(rows), True).as_py()
                if at >= 0:
                    rows = pa.concat_tables(
                        [rows.slice(0, at), replacement, rows.slice(at + 1)]
                    )
                yield from rows.combine_chunks().to_batches()

        twin = None
        if os.path.isfile(_twin(path)):
            twin = _merged_postings(_twin(path), key, _postings_of(replacement))
        self._commit(
            lambda staging: _write_docs(docs(), staging, twin),
            gen,
            os.path.basename(path),
        )
        return True

    def delete(self, name: str, version: int | None = None) -> bool:
        """Delete one version (default: latest) — merge-on-read deletion
        vector: one tiny tombstone commit, ZERO data files read or
        rewritten (the reference deleted row+blob per document,
        src/DMS.py:279-311). ``compact()`` folds tombstones into the
        data."""
        row = _pick(self._rows(name)[0], version or None)
        if row is None:
            return False
        self._delete_keys([(name, row["version"])])
        return True

    def delete_all_version(self, name: str) -> bool:
        """Drop every version of a name (src/DMS.py:394) — one tombstone
        commit enumerating the name's versions (read from the
        column-pruned version listing, never the content column)."""
        versions = self.get_file_version(name)
        if not versions:
            return False
        self._delete_keys([(name, int(v)) for v in versions])
        return True

    def delete_all(self) -> None:
        """Truncate (src/DMS.py:407) — dotted filenames survive (bug B3).
        Commits an empty generation: no data file, nothing read."""
        self._commit(None, None)

    # -- read path ---------------------------------------------------------

    def download(self, name: str, version: int | None = None) -> bytes | None:
        """Point read of content by (name, version); default latest
        (src/DMS.py:174-200). Only the name's row groups and the
        ``version``/``content`` columns are read."""
        row = _pick(self._rows(name, ("content",))[0], version)
        return None if row is None else row["content"]

    get_file_content = download

    def get_file_meta_data(
        self, name: str, version: int | None = None
    ) -> dict[str, str] | None:
        """Project the metadata map (fetch(key)['meta_data'], src/DMS.py:327)."""
        row = _pick(self._rows(name, ("meta",))[0], version)
        return None if row is None else dict(row["meta"])

    def get_file_version(self, name: str) -> list[int]:
        """All versions of a name, numerically sorted (src/DMS.py:368-383).
        Anchored name equality — 'a.txt' never matches 'bba.txt' (bug B2)."""
        return sorted(r["version"] for r in self._rows(name)[0])

    def get_lastest_version(self, name: str) -> int | None:
        """Numeric max(version) — v10 > v9 (bug B1 fixed; the reference's
        string sort at src/DMS.py:391 says otherwise). Name kept for
        reference parity; ``get_latest_version`` aliases it."""
        return max((r["version"] for r in self._rows(name)[0]), default=None)

    get_latest_version = get_lastest_version

    # -- search ------------------------------------------------------------

    def search(self, text: str, k: int = 10) -> DataFrame:
        """Full-text search over text/plain documents (the reference
        delegated this to Solr and never finished it, src/DMS.py:345-356,
        README.md:24). Returns (name, version, score) for the top ``k``
        live documents by (score desc, name, version), where score is how
        many of the document's tokens equal one of the query's terms.

        Tokens: the content and the query are lowercased with Arrow's
        ``utf8_lower`` and split with ``utf8_split_whitespace``, so any
        Unicode whitespace (no-break space, em space, ...) separates
        tokens. Lowercasing is Unicode's simple case mapping, the same for
        content and query ("İSTANBUL" and "İstanbul" both give
        "istanbul").

        Runs on the driver, with no Spark job: it reads the postings rows
        of the query's terms from the current generation's postings twins
        (footer statistics skip the row groups whose term range holds no
        query term), drops the tombstoned (name, version) keys and sums tf
        per document. The answer is a local relation, so collecting it
        starts no job either. Raises RuntimeError when a data file has no
        postings twin (a generation written before postings existed;
        ``compact()`` rewrites it with twins) rather than answering from
        part of the store."""
        tokens = pc.list_flatten(_terms(pa.array([text], pa.string())))
        terms = sorted({t for t in tokens.to_pylist() if t})
        gen = self._resolve(None)
        hits = _ARROW_HITS_SCHEMA.empty_table()
        if terms and gen is not None:
            hits = self._search_hits(gen, terms, k)
        return self.spark.createDataFrame(hits)

    def _search_hits(self, gen: int, terms: list[str], k: int) -> pa.Table:
        """``search``'s top ``k`` in generation ``gen``, as an Arrow table
        of ``_ARROW_HITS_SCHEMA``."""
        twins = [_twin(f) for f in self._data_files(gen)]
        missing = [t for t in twins if not os.path.isfile(t)]
        if missing:
            raise RuntimeError(
                f"generation {gen} has {len(missing)} data file(s) without a "
                f"postings twin, e.g. {missing[0]}; compact() rewrites them "
                f"with twins"
            )
        match = functools.reduce(
            operator.or_, [ds.field("term") == t for t in terms]
        )
        hits = ds.dataset(twins, schema=_ARROW_POSTINGS_SCHEMA).to_table(
            columns=["name", "version", "tf"], filter=match
        )
        tomb_files = self._tombstone_files(gen)
        if tomb_files and hits.num_rows:
            tombs = ds.dataset(tomb_files, schema=_ARROW_TOMBSTONE_SCHEMA)
            hits = hits.join(
                tombs.to_table(), ["name", "version"], join_type="left anti"
            )
        top = (
            hits.group_by(["name", "version"])
            .aggregate([("tf", "sum")])
            .sort_by(
                [
                    ("tf_sum", "descending"),
                    ("name", "ascending"),
                    ("version", "ascending"),
                ]
            )
            .slice(0, k)
        )
        return pa.table(
            [
                top.column("name"),
                top.column("version"),
                top.column("tf_sum").cast(pa.int32()),
            ],
            schema=_ARROW_HITS_SCHEMA,
        )
