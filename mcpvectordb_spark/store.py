"""The ``chunks`` table store.

Re-expresses /root/reference/src/mcpvectordb/store.py (LanceDB table driver,
442 LoC) as a partitioned Parquet table + DataFrame operators:

- layout: one table partitioned by ``library`` → the reference's scalar
  index on ``library`` (store.py:82-88) becomes Catalyst partition pruning;
  ``doc_id``/``source`` predicates ride Parquet min/max pushdown.
- append is always batch (reference store.py:193-194 "never row-by-row").
- versions: LanceDB versions every write (SURVEY §1.3); here every append,
  delete, compaction, snapshot and restore is one commit of an immutable
  file list (``_Log``) — Delta Lake's transaction log (Armbrust et al., VLDB
  2020) in its simplest form — and a read reads exactly one version's files.
- document index: the reference answers "is this document stored?",
  list_documents and list_libraries with LanceDB point lookups.  Here each
  version has an in-memory index (``_DocIndex``), one row per document with
  its first-seen metadata, chunk count and the files that can hold its
  chunks.  It is keyed by the version's data-file set — files are
  uuid-named and never rewritten, so the key pins the content — and a
  writer derives the next version's index from the current one plus the
  rows it wrote.  A cold process, a restore or a raw append misses and
  rebuilds it from exactly those files with one aggregate.  The browse
  calls, count() and the ingest dedup gate run no Spark job; a delete
  rewrites only the files the index names for its documents (an
  anti-filter of each).
- the FTS/vector "indexes" have no physical counterpart: a search computes
  the BM25 term statistics of its filtered scope at query time, in the same
  single plan that scores every row's vector (operators/hybrid.py::
  hybrid_search) — the correct physical choice at the reference's own
  <50k-chunk regime (store.py:274); see operators/ for the scale path
  (IVF / LSH).  Only search, get_document and delete_where read chunks.

Writers are serialized per store path within one process; concurrent
writers in several processes are not supported.
"""

from __future__ import annotations

import json
import re
import threading
import uuid
from collections import OrderedDict
from collections.abc import Callable
from contextlib import contextmanager
from datetime import datetime, timezone
from functools import cached_property, reduce
from operator import and_
from urllib.parse import unquote

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mcpvectordb_spark.config import DEFAULT, EngineConfig
from mcpvectordb_spark.schema import CHUNKS_SCHEMA

# Filter keys must be plain identifiers (reference store.py:119) — kept as an
# API guard even though Spark Columns are parameterised (no SQL injection).
_IDENT_RE = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_]*$")
_FILTERABLE = {f.name for f in CHUNKS_SCHEMA if f.name != "embedding"}
_COLUMNS = [f.name for f in CHUNKS_SCHEMA]

# Process-wide commit state, keyed by a store's qualified root path so every
# ChunkStore on one path shares it.  _STATE guards the maps below and makes
# "publish a version" and "resolve + pin the latest version" atomic with
# respect to each other.
_STATE = threading.Lock()
_WRITERS: dict[str, threading.RLock] = {}
_READING: list[tuple[str, int]] = []  # (root, version) of each in-flight pinned read
_PINS = threading.local()
# Document indexes of recent versions, keyed by (root, frozenset of the
# version's data-file paths), least recently used first.
_INDEXES: OrderedDict[tuple[str, frozenset], _DocIndex] = OrderedDict()
_INDEXES_MAX = 16
# an index row; list_documents returns these fields in this order
_DOC_FIELDS = ("doc_id", "source", "title", "library", "content_hash", "created_at", "metadata", "chunk_count")


class InvalidFilterError(ValueError):
    pass


def build_filter(library: str | None = None, filters: dict | None = None):
    """Conjunctive equality predicate (reference _build_where_clause,
    store.py:122-153): optional library scope AND user filter dict with
    string/int values only."""
    preds = []
    if library is not None:
        preds.append(F.col("library") == library)
    for key, value in (filters or {}).items():
        if not _IDENT_RE.match(key):
            raise InvalidFilterError(f"invalid filter key: {key!r}")
        if key not in _FILTERABLE:
            raise InvalidFilterError(f"unknown filter column: {key!r}")
        if not isinstance(value, (str, int)) or isinstance(value, bool):
            raise InvalidFilterError(f"filter values must be str or int, got {type(value).__name__}")
        preds.append(F.col(key) == F.lit(value))
    return reduce(and_, preds) if preds else F.lit(True)


# Above this many values, where_in goes from an In() literal list to a
# broadcast join (an In with 10^5 entries bloats the plan and falls off
# codegen; a broadcast hash join does not).
_ISIN_MAX = 1000


def where_in(df: DataFrame, col: str, values: list, negate: bool = False) -> DataFrame:
    """Rows of ``df`` whose ``col`` is in ``values`` — with ``negate``, is
    not in them (rows with a null ``col`` stay)."""
    if len(values) <= _ISIN_MAX:
        hit = F.col(col).isin(values)
        return df.filter(F.col(col).isNull() | ~hit if negate else hit)
    dtype = df.schema[col].dataType.simpleString()
    values_df = df.sparkSession.createDataFrame([(v,) for v in values], f"`{col}` {dtype}")
    return df.join(F.broadcast(values_df), col, "anti" if negate else "semi")


def _entry(rel: str, nbytes: int) -> dict:
    """Manifest entry of the data file at ``rel`` (``library=<dir>/<name>``);
    the library is the directory's value with Spark's %XX escapes decoded."""
    return {"path": rel, "library": unquote(rel.split("/")[0][len("library="):]), "bytes": nbytes}


def _rel(uri: str) -> str:
    """Manifest path (``library=<dir>/<name>``) of a ``_metadata.file_path``
    URI, whose escaped partition directory reads '%' as '%25'."""
    return "/".join(unquote(uri).rsplit("/", 2)[-2:])


def _nulls_first(value) -> tuple:
    return (value is not None, value or "")


class _DocIndex:
    """One version's documents: doc_id → the ``_DOC_FIELDS`` row plus
    ``files``, a superset of the version's files that hold the document's
    chunks.  Immutable; the derived views are computed once."""

    def __init__(self, docs: dict):
        self.docs = docs

    @cached_property
    def by_key(self) -> dict:
        """(source, library) → row: the ingest dedup identity."""
        return {(d["source"], d["library"]): d for d in self.docs.values()}

    @cached_property
    def recent_first(self) -> list[dict]:
        """Rows by created_at descending (nulls last), then doc_id."""
        rows = sorted(self.docs.values(), key=lambda d: _nulls_first(d["doc_id"]))
        return sorted(rows, key=lambda d: _nulls_first(d["created_at"]), reverse=True)

    @cached_property
    def libraries(self) -> list[dict]:
        libs: dict = {}
        for d in self.docs.values():
            lib = libs.setdefault(d["library"], {"library": d["library"], "document_count": 0, "chunk_count": 0})
            lib["document_count"] += d["doc_id"] is not None
            lib["chunk_count"] += d["chunk_count"]
        return [libs[k] for k in sorted(libs, key=_nulls_first)]

    @cached_property
    def chunks(self) -> int:
        return sum(d["chunk_count"] for d in self.docs.values())

    def derive(self, removed: set, added: list[dict], dropped: set, documents: list[dict]) -> _DocIndex:
        """The index after a commit that swapped the files ``removed`` for
        ``added``, deleted the documents ``dropped`` and wrote
        ``documents`` (rows without ``files``).  A document that kept
        chunks in a removed file may now hold them in any added file of
        that file's library directory; a written one in any added file of
        its library."""
        by_dir: dict = {}
        for f in added:
            by_dir.setdefault(f["path"].split("/")[0], set()).add(f["path"])
        lib_files = {f["library"]: by_dir[f["path"].split("/")[0]] for f in added}
        docs = {}
        for doc_id, d in self.docs.items():
            if doc_id in dropped:
                continue
            hit = d["files"] & removed
            if hit:
                moved = set().union(*(by_dir.get(p.split("/")[0], ()) for p in hit))
                d = {**d, "files": frozenset((d["files"] - removed) | moved)}
            docs[doc_id] = d
        for d in documents:
            docs[d["doc_id"]] = {**d, "files": frozenset(lib_files.get(d["library"], ()))}
        return _DocIndex(docs)


def _index_key(log: _Log, files: list[dict]) -> tuple[str, frozenset]:
    return log.root, frozenset(f["path"] for f in files)


def _cached_index(key: tuple) -> _DocIndex | None:
    with _STATE:
        index = _INDEXES.get(key)
        if index is not None:
            _INDEXES.move_to_end(key)
        return index


def _remember(key: tuple, index: _DocIndex) -> _DocIndex:
    with _STATE:
        _INDEXES[key] = index
        _INDEXES.move_to_end(key)
        while len(_INDEXES) > _INDEXES_MAX:
            _INDEXES.popitem(last=False)
    return index


class _Log:
    """The commit log of one store root, through the Hadoop FS API (any
    scheme).  ``_log/<N>.json`` is version N:
    ``{"files": [{"path", "library", "bytes"}], "snapshots": [pin]}``.
    Data files are never overwritten; a write adds new files, then commits
    N+1 with one create-if-absent, then garbage-collects what no kept
    version references, so a crash before the commit leaves only
    unreferenced files."""

    def __init__(self, spark: SparkSession, path: str):
        jvm = spark._jvm
        self._path = jvm.org.apache.hadoop.fs.Path
        self._io = jvm.org.apache.commons.io.IOUtils
        p = self._path(path)
        self.fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        self.root = self.fs.makeQualified(p).toString()

    def path(self, rel: str):
        return self._path(f"{self.root}/{rel}")

    def versions(self) -> list[int]:
        log = self.path("_log")
        if not self.fs.exists(log):
            return []
        names = [st.getPath().getName() for st in self.fs.listStatus(log)]
        return [int(n[: -len(".json")]) for n in names if n.endswith(".json") and n[0].isdigit()]

    def load(self, version: int) -> dict:
        stream = self.fs.open(self.path(f"_log/{version}.json"))
        try:
            return json.loads(self._io.toString(stream, "UTF-8"))
        finally:
            stream.close()

    def publish(self, version: int, manifest: dict) -> bool:
        """Create ``_log/<version>.json`` if absent; False if it exists."""
        try:
            out = self.fs.create(self.path(f"_log/{version}.json"), False)
        except Py4JJavaError as exc:
            if "FileAlreadyExistsException" not in str(exc):
                raise
            return False
        try:
            out.write(json.dumps(manifest).encode())
        finally:
            out.close()
        return True

    def data_files(self) -> list[dict]:
        """Every Parquet file under ``library=*/``, referenced or not."""
        out = []
        if not self.fs.exists(self._path(self.root)):
            return out
        it = self.fs.listFiles(self._path(self.root), True)
        while it.hasNext():
            st = it.next()
            rel = st.getPath().toString()[len(self.root) + 1:]
            parts = rel.split("/")
            if len(parts) == 2 and parts[0].startswith("library=") and not parts[1].startswith(("_", ".")):
                out.append(_entry(rel, st.getLen()))
        return out

    def head(self, adopt: bool) -> tuple[int, dict]:
        """The latest (version, manifest).  A store without a log is adopted
        as version 0 by listing its files once (stores written before the
        log existed); with ``adopt`` an empty one gets an empty version 0 too,
        so a crashed first commit cannot leave files a listing would adopt.
        No log and no files: version -1, the empty table."""
        versions = self.versions()
        if versions:
            return max(versions), self.load(max(versions))
        manifest = {"files": self.data_files(), "snapshots": []}
        if not (manifest["files"] or adopt):
            return -1, manifest
        if not self.publish(0, manifest):
            manifest = self.load(0)
        return 0, manifest

    def commit(self, base: int, files: list[dict], snapshots: list[dict]) -> int:
        """Publish version base+1, then delete every manifest and data file
        that neither it, a snapshot pin nor an in-flight read references."""
        version = base + 1
        manifest = {"files": files, "snapshots": snapshots}
        with _STATE:
            if not self.publish(version, manifest):
                raise RuntimeError(f"{self.root}: version {version} was committed by another writer")
            keep = {version} | {s["table_version"] for s in snapshots}
            keep |= {v for root, v in _READING if root == self.root}
        live = {f["path"] for v in keep - {version} for f in self.load(v)["files"]}
        live |= {f["path"] for f in files}
        for v in set(self.versions()) - keep:
            self.fs.delete(self.path(f"_log/{v}.json"), False)
        for f in self.data_files():
            if f["path"] not in live:
                self.fs.delete(self.path(f["path"]), False)
        self.fs.delete(self.path("_stage"), True)
        return version


class ChunkStore:
    """Path-backed chunks table. Cheap to construct (the reference opens a
    LanceDB connection per call, store.py:156-160; here the SparkSession is
    the long-lived context and the table is re-read lazily per query)."""

    def __init__(self, spark: SparkSession, path: str, config: EngineConfig = DEFAULT):
        self.spark = spark
        self.path = path
        self.config = config

    # -- versions -------------------------------------------------------------

    @contextmanager
    def pinned(self):
        """Keep the files of every version a ``read()`` resolves inside this
        block until the block exits, so a request reads the version it
        started on to the end while other threads commit.  Nested blocks
        share the outermost one's pins."""
        if getattr(_PINS, "held", None) is not None:
            yield
            return
        _PINS.held = []
        try:
            yield
        finally:
            with _STATE:
                for pin in _PINS.held:
                    _READING.remove(pin)
            _PINS.held = None

    def _resolve(self) -> tuple[_Log, dict]:
        log = _Log(self.spark, self.path)
        with _STATE:
            version, manifest = log.head(adopt=False)
            held = getattr(_PINS, "held", None)
            if held is not None and version >= 0:
                _READING.append((log.root, version))
                held.append((log.root, version))
        return log, manifest

    @contextmanager
    def writer(self):
        """Hold the store's writer lock (re-entrant) for the block: no other
        thread of this process commits to the store until it exits, so a
        decision read from the head — the ingest dedup gate — still holds
        when its commit lands."""
        log = _Log(self.spark, self.path)
        with _STATE:
            lock = _WRITERS.setdefault(log.root, threading.RLock())
        with lock:
            yield log

    @contextmanager
    def _writing(self):
        """Hold the store's writer lock; yield (log, version, manifest) of
        the head to commit against."""
        with self.writer() as log:
            with _STATE:  # a reader must not load a half-written adoption
                head = log.head(adopt=True)
            yield (log, *head)

    def _index(self, log: _Log, files: list[dict]) -> _DocIndex:
        """The document index of the version made of ``files``; a miss
        rebuilds it from exactly those files with one aggregate."""
        key = _index_key(log, files)
        index = _cached_index(key)
        if index is not None:
            return index
        docs = {}
        if files:
            scan = self._scan(log, files, file_col=True)
            for r in self._per_document(scan, F.collect_set("_file").alias("files")).collect():
                docs[r["doc_id"]] = {**{k: r[k] for k in _DOC_FIELDS}, "files": frozenset(map(_rel, r["files"]))}
        return _remember(key, _DocIndex(docs))

    def documents(self) -> _DocIndex:
        """The latest version's document index."""
        with self.pinned():
            log, manifest = self._resolve()
            return self._index(log, manifest["files"])

    def _stage(self, log: _Log, df: DataFrame) -> list[dict]:
        """Write ``df`` (CHUNKS_SCHEMA columns) as new library-partitioned
        files, move them into the table tree and return their manifest
        entries.  Nothing references them until a commit does."""
        stage = f"_stage/{uuid.uuid4().hex}"
        df.write.partitionBy("library").parquet(f"{log.root}/{stage}")
        added = []
        for part in log.fs.listStatus(log.path(stage)):
            if not part.isDirectory():
                continue  # _SUCCESS
            lib_dir = part.getPath().getName()
            log.fs.mkdirs(log.path(lib_dir))
            for st in log.fs.listStatus(part.getPath()):
                rel = f"{lib_dir}/{st.getPath().getName()}"
                log.fs.rename(st.getPath(), log.path(rel))
                added.append(_entry(rel, st.getLen()))
        log.fs.delete(log.path("_stage"), True)
        return added

    # -- read ---------------------------------------------------------------

    def read(self) -> DataFrame:
        """The latest version (an empty store reads as an empty table —
        searching it returns empty, never errors: TC-17)."""
        log, manifest = self._resolve()
        return self._table(log, manifest["files"])

    def _table(self, log: _Log, files: list[dict]) -> DataFrame:
        if not files:
            return self.spark.createDataFrame([], CHUNKS_SCHEMA)
        return self._migrate(self._scan(log, files))

    def _scan(self, log: _Log, files: list[dict], file_col: bool = False) -> DataFrame:
        """Exactly ``files``, with ``basePath`` at the root so ``library``
        stays a partition column (plus ``_file``, each row's file URI, with
        ``file_col``).  Spark lists a read of more paths than
        parallelPartitionDiscovery.threshold with a distributed job, so
        longer lists are read in threshold-sized parts and unioned."""
        paths = [f"{log.root}/{f['path']}" for f in files]
        step = int(self.spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
        reader = self.spark.read.schema(CHUNKS_SCHEMA).option("basePath", log.root)
        parts = [reader.parquet(*paths[i:i + step]) for i in range(0, len(paths), step)]
        if file_col:
            parts = [p.withColumn("_file", F.col("_metadata.file_path")) for p in parts]
        return reduce(DataFrame.union, parts)

    @staticmethod
    def _migrate(df: DataFrame) -> DataFrame:
        """Read-side schema migration (reference store.py:96-116): tables
        written before the file_type / last_modified / page columns read
        with the reference's migration defaults ('' / '' / 0) instead of
        NULL.  Pure projection — parquet fills absent columns with NULL
        under an explicit read schema, so no rewrite is needed and
        current-schema rows pass through untouched."""
        return df.withColumns(
            {
                "file_type": F.coalesce(F.col("file_type"), F.lit("")),
                "last_modified": F.coalesce(F.col("last_modified"), F.lit("")),
                "page": F.coalesce(F.col("page"), F.lit(0)),
            }
        )

    def count(self) -> int:
        return self.documents().chunks

    # -- write --------------------------------------------------------------

    def append(self, chunks: DataFrame, replace=(),
               documents: list[dict] | Callable[[], list[dict]] | None = None) -> None:
        """Batch append (reference upsert_chunks, store.py:180-204, minus the
        per-upsert FTS rebuild — term stats are derived at query time).

        Rows are sorted by (doc_id, chunk_index) within partitions so
        Parquet row-group min/max statistics stay selective for the
        doc-scoped point lookups (get/delete).

        ``replace``: doc ids whose chunks leave in the same commit — a
        replace is one version, never a delete then an append.
        ``documents``: the ``_DOC_FIELDS`` rows of the appended documents,
        from which the next version's index is derived, or a function that
        returns them, called once the rows are written and before the
        commit (ingest reads the chunk counts it observed in the write);
        without them a raw append leaves the index to be rebuilt on its
        next use."""
        with self._writing() as (log, version, manifest):
            rows = chunks.select(_COLUMNS).sortWithinPartitions("doc_id", "chunk_index")
            self._commit_rows(log, version, manifest, rows, replace, documents)

    def delete_document(self, doc_id: str) -> int:
        """Delete all chunks of one document (reference store.py:237-259)."""
        return self.delete_documents([doc_id])

    _DELETE_ISIN_MAX = _ISIN_MAX

    def delete_documents(self, doc_ids) -> int:
        """Batch delete: all chunks of every id in ``doc_ids`` in ONE commit
        that rewrites only the files the index names for them, no matter
        how many documents are deleted.  Returns deleted row count, read
        from the index."""
        with self._writing() as (log, version, manifest):
            return self._commit_rows(log, version, manifest, None, doc_ids, [])

    def delete_documents_df(self, ids_df: DataFrame) -> int:
        """:meth:`delete_documents` of a one-column (doc_id) DataFrame."""
        return self.delete_documents(r["doc_id"] for r in ids_df.select("doc_id").distinct().collect())

    def delete_where(self, library: str | None = None, filters: dict | None = None) -> int:
        """Predicate-scoped delete: remove every chunk matching the same
        equality-AND filter contract the search path uses (build_filter —
        key whitelist, string/int values).  Whole DOCUMENTS are deleted:
        any doc with >= 1 matching chunk drops entirely, matching the
        reference's doc-granular delete semantics (store.py:237-259) —
        a partial-document store would corrupt get_document reconstruction.

        Returns deleted row count.  Same one-commit contract as
        delete_documents."""
        pred = build_filter(library, filters)
        with self._writing() as (log, _, manifest):
            hits = self._table(log, manifest["files"]).filter(pred).select("doc_id").distinct().collect()
            return self.delete_documents(r["doc_id"] for r in hits)

    def _commit_rows(self, log: _Log, version: int, manifest: dict, rows: DataFrame | None,
                     drop, documents: list[dict] | Callable[[], list[dict]] | None) -> int:
        """One commit that adds ``rows`` (or nothing) and removes every chunk
        of the doc ids in ``drop``: the files the index names for them are
        rewritten without those chunks in the same write as ``rows``.
        When ``documents`` (a list, or a function called after the write)
        describes ``rows`` (or there are none), the next version's index is
        derived from this one.  Returns the removed chunk count."""
        drop = {d for d in drop if d is not None}
        derive = rows is None or documents is not None
        index = self._index(log, manifest["files"]) if drop or derive else None
        dropped = [index.docs[d] for d in drop if d in index.docs] if drop else []
        removed = set().union(*(d["files"] for d in dropped))
        parts = [] if rows is None else [rows]
        if removed:
            ids = sorted(d["doc_id"] for d in dropped)
            old = self._scan(log, [f for f in manifest["files"] if f["path"] in removed])
            parts.append(where_in(old, "doc_id", ids, negate=True).select(_COLUMNS))
        added = self._stage(log, reduce(DataFrame.union, parts)) if parts else []
        if callable(documents):
            documents = documents()
        if not (added or removed):
            return 0
        files = [f for f in manifest["files"] if f["path"] not in removed] + added
        log.commit(version, files, manifest["snapshots"])
        if derive:
            dropped_ids = {d["doc_id"] for d in dropped}
            _remember(_index_key(log, files), index.derive(removed, added, dropped_ids, documents or []))
        return sum(d["chunk_count"] for d in dropped)

    # -- point lookups / listings --------------------------------------------

    @staticmethod
    def _per_document(df: DataFrame, *extra) -> DataFrame:
        """One row per document with first-seen metadata + chunk count
        (reference list_documents grouping loop, store.py:382-397).
        first-seen == the chunk_index-0 row, made explicit with min_by."""
        return df.groupBy("doc_id").agg(
            F.min_by("source", "chunk_index").alias("source"),
            F.min_by("title", "chunk_index").alias("title"),
            F.min_by("library", "chunk_index").alias("library"),
            F.min_by("content_hash", "chunk_index").alias("content_hash"),
            F.min_by("created_at", "chunk_index").alias("created_at"),
            F.min_by("metadata", "chunk_index").alias("metadata"),
            F.count(F.lit(1)).cast("int").alias("chunk_count"),
            *extra,
        )

    def list_documents(self, library: str | None = None, limit: int | None = None, offset: int = 0) -> list[dict]:
        """Recency-sorted page of the index (reference store.py:382-401)."""
        limit = self.config.list_limit_default if limit is None else limit
        if not (1 <= limit <= self.config.list_limit_max) or offset < 0:
            raise ValueError("limit must be in [1, %d], offset >= 0" % self.config.list_limit_max)
        docs = self.documents().recent_first
        if library is not None:
            docs = [d for d in docs if d["library"] == library]
        return [{k: d[k] for k in _DOC_FIELDS} for d in docs[offset:offset + limit]]

    def libraries_df(self) -> DataFrame:
        """Per-library rollup over the latest version's chunks (reference
        store.py:405-442)."""
        return self.read().groupBy("library").agg(
            F.countDistinct("doc_id").cast("int").alias("document_count"),
            F.count(F.lit(1)).cast("int").alias("chunk_count"),
        )

    def list_libraries(self) -> list[dict]:
        return [dict(lib) for lib in self.documents().libraries]

    def get_document(self, doc_id: str) -> dict | None:
        """Reconstruct a document: chunks ordered by chunk_index, contents
        joined with blank lines (reference store.py:329-352, server.py:382).
        Reads only the files the index names for it."""
        with self.pinned():
            log, manifest = self._resolve()
            doc = self._index(log, manifest["files"]).docs.get(doc_id)
            if doc is None:
                return None
            files = [f for f in manifest["files"] if f["path"] in doc["files"]]
            rows = (
                self._table(log, files)
                .filter(F.col("doc_id") == doc_id)
                .select("chunk_index", "source", "title", "library", "metadata", "content")
                .collect()
            )
        if not rows:
            return None
        rows.sort(key=lambda r: r["chunk_index"])
        first = rows[0]
        return {
            "doc_id": doc_id, "source": first["source"], "title": first["title"],
            "library": first["library"], "metadata": first["metadata"], "chunk_count": len(rows),
            "content": "\n\n".join(r["content"] for r in rows if r["content"] is not None),
        }

    # -- maintenance ---------------------------------------------------------

    def partition_file_stats(self) -> dict[str, dict]:
        """Per-library file-count/byte stats of the latest version, from its
        manifest.  Keys are library values — the same namespace compact()'s
        ``library=`` parameter uses.  The observability half of compaction:
        at 100 TB, many-small-files is the first thing that kills scan
        throughput (per-file open cost + tiny row groups defeating min/max
        skipping)."""
        stats: dict[str, dict] = {}
        for f in self._resolve()[1]["files"]:
            st = stats.setdefault(f["library"], {"files": 0, "bytes": 0})
            st["files"] += 1
            st["bytes"] += f["bytes"]
        return stats

    def compact(
        self,
        library: str | None = None,
        target_file_bytes: int = 128 << 20,
    ) -> dict[str, dict]:
        """Rewrite fragmented partitions into few large clustered files.

        Every append creates new files (reference 'batch inserts, never
        row-by-row' avoids row fragments but not file fragments —
        store.py:193-194 and lancedb-best-practices:104-113 make the same
        point about LanceDB versions).  Compaction restores the scan-side
        invariants: ~target-sized files, rows re-sorted by (doc_id,
        chunk_index) so row-group min/max stats prune doc point-lookups.

        Partitions already at their target file count are skipped, so a
        second compact is a no-op.  Returns per-library
        {files_before, files_after, bytes}.

        The rewrite is range-partitioned on (doc_id, chunk_index) — NOT
        round-robin — so each output file owns a contiguous doc_id range
        and file/row-group min/max stats actually prune point lookups.
        All rewrites land in one commit."""
        report: dict[str, dict] = {}
        with self._writing() as (log, version, manifest):
            by_lib: dict[str, list[dict]] = {}
            for f in manifest["files"]:
                by_lib.setdefault(f["library"], []).append(f)
            files = manifest["files"]
            for lib_value, lib_files in by_lib.items():
                nbytes = sum(f["bytes"] for f in lib_files)
                want = max(1, -(-nbytes // target_file_bytes))
                if (library is not None and lib_value != library) or len(lib_files) <= want:
                    continue
                rows = (
                    self._table(log, lib_files)
                    .repartitionByRange(want, "doc_id", "chunk_index")
                    .sortWithinPartitions("doc_id", "chunk_index")
                )
                files = [f for f in files if f not in lib_files] + self._stage(log, rows.select(_COLUMNS))
                report[lib_value] = {"files_before": len(lib_files), "files_after": want, "bytes": nbytes}
            if report:
                log.commit(version, files, manifest["snapshots"])
                index = _cached_index(_index_key(log, manifest["files"]))
                if index is not None:
                    removed = {f["path"] for f in manifest["files"]} - {f["path"] for f in files}
                    added = [f for f in files if f not in manifest["files"]]
                    _remember(_index_key(log, files), index.derive(removed, added, set(), []))
        return report

    # -- snapshots / time travel ----------------------------------------------

    def snapshot(self, tag: str | None = None) -> int:
        """Pin the current table state; returns the new snapshot number
        (1, 2, ... per store).  No bytes are copied: the pin keeps the
        version's manifest and files out of garbage collection until
        :meth:`expire_snapshot`."""
        with self._writing() as (log, version, manifest):
            number = max((s["version"] for s in manifest["snapshots"]), default=0) + 1
            pin = self._pin(number, tag, manifest, version + 1)
            log.commit(version, manifest["files"], manifest["snapshots"] + [pin])
            return number

    @staticmethod
    def _pin(number: int, tag: str | None, manifest: dict, table_version: int) -> dict:
        return {
            "version": number,
            "tag": tag,
            "created_at": datetime.now(timezone.utc).isoformat(),
            "n_files": len(manifest["files"]),
            "table_version": table_version,
        }

    @staticmethod
    def _find_pin(manifest: dict, number: int) -> dict:
        for s in manifest["snapshots"]:
            if s["version"] == number:
                return s
        raise ValueError(f"no committed snapshot v{number}")

    def snapshots(self) -> list[dict]:
        """Committed snapshots, oldest first."""
        return [
            {k: s[k] for k in ("version", "tag", "created_at", "n_files")}
            for s in self._resolve()[1]["snapshots"]
        ]

    def read_version(self, version: int) -> DataFrame:
        """Read the table as of a snapshot — the reference's LanceDB
        checkout-by-version, on parquet."""
        log, manifest = self._resolve()
        pin = self._find_pin(manifest, version)
        return self._table(log, log.load(pin["table_version"])["files"])

    def restore(self, version: int) -> int:
        """Roll the live table back to a snapshot in one commit that also
        pins the pre-restore state (tag ``pre-restore``), so restore itself
        is undoable; returns that safety snapshot's number."""
        with self._writing() as (log, head, manifest):
            files = log.load(self._find_pin(manifest, version)["table_version"])["files"]
            safety = max(s["version"] for s in manifest["snapshots"]) + 1
            pin = self._pin(safety, "pre-restore", manifest, head)
            log.commit(head, files, manifest["snapshots"] + [pin])
            return safety

    def expire_snapshot(self, version: int) -> None:
        """Drop a snapshot's pin; the next garbage collection (this commit's)
        frees the files no other version references."""
        with self._writing() as (log, head, manifest):
            kept = [s for s in manifest["snapshots"] if s["version"] != version]
            if len(kept) < len(manifest["snapshots"]):
                log.commit(head, manifest["files"], kept)
