"""The document store: databases → collections → JSON documents on Spark.

Re-expresses the reference's storage plane (SURVEY.md §1, §2.7) as a
log-structured, merge-on-read table design — the Spark-idiomatic equivalent
of RocksDB+EJDB2 single-node storage:

- every mutation (add / update / delete) **appends** full-document versions
  to the collection's parquet directory, stamped with the total order
  ``(block, order)`` (mutation_store.rs:444-481);
- the *current state* is a window over versions: latest (block, order) per
  doc_id, dropping tombstones. One hash shuffle on doc_id; at scale the
  ``compact()`` job collapses history so reads stay O(live docs);
- updates resolve their merge-patch (RFC 7386, EJDB2 ``patch`` semantics —
  doc_store.rs:470-480) at *write* time against the current state, so the
  read path never folds patch chains.

Sequencing (block/order counters, doc-id high-water marks, nonces) lives in
``StateStore`` — the single-sequencer role of the reference's rollup node.
Two writers put document rows here: the driver-row methods below (one
online mutation at a time) and the set-wise writer of store/batch_apply.py
(blocks, log replay, rollup and wire import). Replicas rebuild identical
state by replaying the mutation log set-wise (store/replay.py) with the
recorded ``doc_ids_map`` (mutation_utils.rs:138-179;
indexer_impl.rs:259-324); ``apply_mutation`` replays its control actions.
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

from rtstore_spark.errors import (
    CollectionAlreadyExists,
    CollectionNotFound,
    DatabaseNotFound,
    IndexAlreadyExists,
    InvalidMutation,
    OwnerVerifyFailed,
)
from rtstore_spark.functions.merge_patch import merge_patch
from rtstore_spark.jql import jql_query
from rtstore_spark.store.fs import fs_for
from rtstore_spark.store.state import StateStore

# snapshot-generation layout (see _rewrite): the live generation of a store
# table is named by a tiny `_current` pointer file in the table root
GEN_PREFIX = "gen-"
CURRENT_POINTER = "_current"

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("owner", T.StringType(), True),
        T.StructField("doc", T.StringType(), True),
        T.StructField("op", T.StringType(), False),  # A=add U=update D=delete
        T.StructField("block", T.LongType(), False),
        T.StructField("order", T.IntegerType(), False),
    ]
)

LOG_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("sender", T.StringType(), False),
        T.StructField("nonce", T.LongType(), False),
        T.StructField("action", T.StringType(), False),
        T.StructField("db_addr", T.StringType(), True),
        T.StructField("col_name", T.StringType(), True),
        T.StructField("payload", T.StringType(), True),
        T.StructField("doc_ids", T.StringType(), True),  # JSON list — the doc_ids_map
        T.StructField("block", T.LongType(), False),
        T.StructField("order", T.IntegerType(), False),
    ]
)

# blocks per log partition directory: range scans / rollup / GC prune whole
# directories instead of listing the full history (the prefix-ordered
# `block‖order` RocksDB key layout, as partition layout)
LOG_BLOCKS_PER_BUCKET = 10_000

# read-side schema: partition column appended
LOG_READ_SCHEMA = T.StructType(
    LOG_SCHEMA.fields + [T.StructField("block_bucket", T.LongType(), True)]
)

# original client envelopes for wire-ingested mutations (the rollup row
# shape the reference persists — ar_toolbox.rs:83-127): payload is the
# EIP-712 TypedData JSON bytes exactly as signed
WIRE_ARCHIVE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("signature", T.StringType(), False),
        T.StructField("block", T.LongType(), False),
        T.StructField("order", T.IntegerType(), False),
    ]
)

# doc ids per collection partition directory — the directory-level analog of
# the reference's `/doc/‖db‖id(i64 BE)` key layout (db_doc_key_v2.rs:24-40),
# where the BE-encoded id prefix makes point gets O(log n). Here
# `doc_bucket = doc_id div N` turns a point get / id-set lookup into
# partition pruning (unlisted directories are never touched), and
# ``compact()``'s doc_id sort gives row-group min/max pruning within the
# bucket. At ~1 KB/doc a bucket is ~100 MB — file-sized partitions.
DOC_IDS_PER_BUCKET = 100_000

DOC_READ_SCHEMA = T.StructType(
    DOC_SCHEMA.fields + [T.StructField("doc_bucket", T.LongType(), True)]
)

# RunQuery matched-set snapshots the store keeps referenced (see query_docs)
QUERY_CACHE_SLOTS = 8


def derive_db_addr(sender: str, nonce: int, network: int = 1) -> str:
    """Deterministic 20-byte database address from (sender, nonce, network).

    Byte-exact mirror of ``DbId::from((&DB3Address, u64, u64))`` —
    id.rs:169-183: sha3_256(nonce_be8 ‖ network_be8 ‖ sender_20_bytes)
    truncated to 20 bytes — so a database created here gets the SAME
    address a current reference node would assign for the same
    (sender, nonce, network). Falls back to hashing the raw sender
    string when it is not a 0x-address (tests use human-readable ids).
    """
    try:
        sender_bytes = bytes.fromhex(sender.removeprefix("0x"))
        if len(sender_bytes) != 20:
            raise ValueError
    except ValueError:
        sender_bytes = sender.encode("utf-8")
    h = hashlib.sha3_256(
        int(nonce).to_bytes(8, "big") + int(network).to_bytes(8, "big")
        + sender_bytes
    ).hexdigest()
    return "0x" + h[:40]


def _arrow_table(rows: list[dict], schema: T.StructType) -> pa.Table:
    """Driver rows as a ``pyarrow.Table`` with the declared nullability.
    The rows first pass Spark's own per-row verifier, so a None in a
    non-nullable field or a wrongly typed value raises before anything is
    written (pyarrow alone would truncate a float into a long column, or
    take a str for a binary one)."""
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    return pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))


def _merged_doc(doc: str | None, patch: str | None) -> str | None:
    """One UpdateDocument merge, serialised exactly as the set-wise
    ``make_json_merge_patch`` UDF does, so both write the same bytes."""
    if patch is None:
        return doc
    merged = merge_patch(json.loads(doc) if doc else {}, json.loads(patch))
    return json.dumps(merged, separators=(",", ":"), sort_keys=True)


class DocStore:
    def __init__(
        self, spark: SparkSession, root: str, network: int = 1, fs=None,
    ):
        self.spark = spark
        self.root = root
        self.network = network
        # control-plane file ops (pointers, listings, cleanup) and the
        # driver-row appends (_write_rows) go through a swappable FS:
        # LocalFS for plain paths, HadoopFS for URI roots. Reads, compaction
        # and batch writes are Spark jobs and need no adapter
        self.fs = fs or fs_for(root, spark)
        self.fs.makedirs(root)
        # the sequencer. Every online append (doc and log rows, catalog
        # rows, wire envelopes) is one small parquet object; close_block
        # is the one policy that folds them back into few files
        self.state = StateStore(root, fs=self.fs)
        # collection-name length cap: collection_key.rs:21-33
        self.max_col_name = 20
        # latest catalog row per (db_addr, col_name), keyed by the catalog's
        # listing token (see _col_row)
        self._col_cache: tuple[tuple, dict] | None = None
        # bounded FIFO of persisted RunQuery matched-sets (see query_docs)
        self._query_caches: list = []

    # ------------------------------------------------------------------
    # paths & small helpers
    # ------------------------------------------------------------------

    def _seq(self, seq: tuple[int, int] | None) -> tuple[int, int]:
        """Assign (block, order): fresh from the sequencer, or — on replay —
        the origin's logged position (the header's block/order, which
        replicas adopt rather than recompute: indexer_impl.rs:259-288)."""
        if seq is None:
            return self.state.next_order()
        self.state.observe_seq(*seq)
        return seq

    # -- table roots (logical) and their live directories (resolved) --
    #
    # Every store table (catalogs, mutation log, collection data) is
    # addressed by a *logical root*. Readers and writers resolve it through
    # the `_current` pointer: if the pointer names a generation directory,
    # that directory is the live table; otherwise the root itself is (the
    # pre-first-rewrite layout). Snapshot swaps (compact / GC) write a new
    # generation and flip the pointer — a single small-object overwrite
    # that is atomic on POSIX, HDFS and S3 alike. Directory renames, which
    # object stores cannot do atomically, never happen (see store/fs.py).

    def _db_root(self) -> str:
        return os.path.join(self.root, "__databases")

    def _col_root(self) -> str:
        return os.path.join(self.root, "__collections")

    def _log_root(self) -> str:
        return os.path.join(self.root, "mutation_log")

    def _data_root(self, db_addr: str, col: str) -> str:
        return os.path.join(self.root, "data", db_addr, col)

    def _db_path(self) -> str:
        return self._resolve(self._db_root())

    def _col_path(self) -> str:
        return self._resolve(self._col_root())

    def _log_path(self) -> str:
        return self._resolve(self._log_root())

    def _data_path(self, db_addr: str, col: str) -> str:
        return self._resolve(self._data_root(db_addr, col))

    def _current_gen(self, root: str) -> str | None:
        txt = self.fs.read_text(os.path.join(root, CURRENT_POINTER))
        if txt:
            name = txt.strip()
            if name.startswith(GEN_PREFIX):
                return name
        return None

    def _resolve(self, root: str) -> str:
        gen = self._current_gen(root)
        return os.path.join(root, gen) if gen else root

    def _flip_pointer(self, root: str, gen: str) -> None:
        self.fs.write_text_atomic(os.path.join(root, CURRENT_POINTER), gen)

    def _rewrite(self, root: str, write_fn) -> None:
        """Replace a store table's contents with a fresh snapshot,
        object-store safe.

        1. write the snapshot to a brand-new generation directory (the
           live table is still readable throughout — the snapshot job
           reads it);
        2. flip the `_current` pointer (atomic single-object overwrite);
        3. best-effort cleanup of superseded entries.

        A crash between 1 and 2 leaves an orphan generation the next
        rewrite overwrites or cleanup removes; readers never see a half
        state because they resolve the pointer first. A crash during 3
        leaves stale garbage that the next rewrite's cleanup retries —
        again invisible to readers.

        Single-writer assumption (same as the reference's sequencer):
        rewrites and appends come from the one writer process, so no
        append can land in a superseded directory between the snapshot
        read and cleanup. Cross-process readers only ever resolve the
        pointer, and the generation they resolved survives ONE further
        rewrite (cleanup keeps the immediately-superseded generation as a
        grace window for in-flight scans — the standard lakehouse
        retention trade; a scan outliving two rewrites can still lose its
        files).
        """
        cur = self._current_gen(root)
        n = int(cur[len(GEN_PREFIX):]) + 1 if cur else 1
        gen = f"{GEN_PREFIX}{n:06d}"
        write_fn(os.path.join(root, gen))
        self._flip_pointer(root, gen)
        # everything in the root except the pointer, the live generation
        # and its immediate predecessor (the in-flight-reader grace
        # window) is superseded: older generations, legacy root-level
        # data files, leftovers of crashed rewrites
        keep = {gen, CURRENT_POINTER} | ({cur} if cur else set())
        for name in self.fs.listdir(root):
            if name not in keep:
                self.fs.delete(os.path.join(root, name), recursive=True)

    def _write_rows(
        self, rows: list[dict], schema: T.StructType, path: str,
        partition: tuple[str, str, int] | None = None,
    ) -> None:
        """Append driver-held rows to a store table with no Spark job.

        Each ``partition = (bucket column, source column, values per
        bucket)`` group, e.g. ``doc_bucket = doc_id // N``, becomes one
        ``<bucket>=<value>/part-<uuid>.snappy.parquet`` object, the
        layout Spark's partitioned writer produced; without ``partition``
        the rows are one object in ``path``. ``pq.write_table`` fills a
        buffer and ``fs.write_bytes_atomic`` publishes it whole, so no
        reader sees a torn file. Every SendMutation pays two or more
        appends under the sequencer lock: a one-document AddDocument (doc
        and log row) took 4 ms this way against 300 ms as two Spark write
        jobs (median, traced serve_write benchmark, 4-vCPU host). Each
        object is atomic on its own; rows spanning two buckets land as two
        objects."""
        table = _arrow_table(rows, schema)
        parts = {path: table}
        if partition is not None:
            name, source, per = partition
            groups: dict[int, list[int]] = {}
            for i, row in enumerate(rows):
                groups.setdefault(row[source] // per, []).append(i)
            parts = {
                os.path.join(path, f"{name}={value}"): table.take(idx)
                for value, idx in groups.items()
            }
        for directory, part in parts.items():
            buf = pa.BufferOutputStream()
            # every reader applies the declared schema, so the footer
            # needs no serialised Arrow schema (a quarter of a 1-row file)
            pq.write_table(part, buf, compression="snappy", store_schema=False)
            self.fs.write_bytes_atomic(
                os.path.join(directory, f"part-{uuid.uuid4()}.snappy.parquet"),
                buf.getvalue().to_pybytes(),
            )

    def _append(self, rows: list[dict], schema: T.StructType, path: str) -> None:
        """Append driver rows (catalog versions) as one parquet object."""
        self._write_rows(rows, schema, path)

    def _append_doc_rows(self, rows: list[dict], path: str) -> None:
        """Append doc-version rows under the doc-bucket partition layout."""
        self._write_rows(
            rows, DOC_SCHEMA, path, ("doc_bucket", "doc_id", DOC_IDS_PER_BUCKET)
        )

    def _read(self, path: str, schema: T.StructType) -> DataFrame:
        """Flat table read from explicitly-listed top-level parquet files.

        Listing (instead of handing Spark the directory) makes the read
        immune to orphan ``gen-*`` directories a crashed rewrite can leave
        in the root: an un-flipped generation is never part of the live
        table, so the reader must not let partition discovery trip over
        it."""
        files = [
            os.path.join(path, f)
            for f in self.fs.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
        if not files:
            return self.spark.createDataFrame([], schema=schema)
        return self.spark.read.schema(schema).parquet(*files)

    def _read_docs(self, path: str) -> DataFrame:
        """Collection read: doc rows + the doc_bucket partition column.

        Reads from explicitly-listed entries of the resolved directory:

        - ``doc_bucket=`` partition directories (with basePath, so the
          partition column and its pruning survive);
        - legacy root-level flat files, unioned with a null doc_bucket
          (Spark's partition discovery silently drops root files once
          partition dirs exist; pruning filters keep null buckets);
        - anything else — in particular an orphan ``gen-*`` snapshot left
          by a crashed compaction before its pointer flip — is ignored.
        """
        entries = self.fs.listdir(path)
        flat = [
            os.path.join(path, f) for f in entries
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
        buckets = [
            os.path.join(path, e) for e in entries if e.startswith("doc_bucket=")
        ]
        parts = []
        if buckets:
            parts.append(
                self.spark.read.schema(DOC_READ_SCHEMA)
                .option("basePath", path)
                .parquet(*buckets)
            )
        if flat:
            parts.append(
                self.spark.read.schema(DOC_SCHEMA)
                .parquet(*flat)
                .withColumn("doc_bucket", F.lit(None).cast("long"))
            )
        if not parts:
            return self.spark.createDataFrame([], schema=DOC_READ_SCHEMA)
        df = parts[0]
        for extra in parts[1:]:
            df = df.unionByName(extra)
        return df

    def _log(self, sender, nonce, action, db_addr, col_name, payload, doc_ids,
             block, order, mid: str | None = None):
        """Append one mutation-log row.

        ``mid`` is the mutation id. The signed path (Ingest.send_mutation)
        passes sha3(payload ‖ signature) — the reference's TxId recipe
        (id.rs:78-86) — so the id returned to the client is the id the log
        stores. Unsigned direct-API calls have no signature; they fall back
        to a deterministic sha3(action|body|block|order), which replicas
        reproduce identically on replay.
        """
        body = json.dumps(payload, sort_keys=True) if payload is not None else None
        if mid is None:
            mid = hashlib.sha3_256(f"{action}|{body}|{block}|{order}".encode()).hexdigest()
        row = {
            "id": mid,
            "sender": sender,
            "nonce": nonce,
            "action": action,
            "db_addr": db_addr,
            "col_name": col_name,
            "payload": body,
            "doc_ids": json.dumps(doc_ids) if doc_ids is not None else None,
            "block": block,
            "order": order,
        }
        self._write_rows(
            [row], LOG_SCHEMA, self._log_path(),
            ("block_bucket", "block", LOG_BLOCKS_PER_BUCKET),
        )

    # ------------------------------------------------------------------
    # catalog — databases & collections (M0, M1, M5, M7, M8)
    # ------------------------------------------------------------------

    DB_SCHEMA = T.StructType(
        [
            T.StructField("db_addr", T.StringType(), False),
            T.StructField("sender", T.StringType(), False),
            T.StructField("desc", T.StringType(), True),
            T.StructField("db_type", T.StringType(), False),  # doc | event
            T.StructField("meta", T.StringType(), True),  # event-db config JSON
            T.StructField("block", T.LongType(), False),
            T.StructField("order", T.IntegerType(), False),
        ]
    )

    COL_SCHEMA = T.StructType(
        [
            T.StructField("db_addr", T.StringType(), False),
            T.StructField("col_name", T.StringType(), False),
            T.StructField("index_fields", T.StringType(), True),  # JSON list
            T.StructField("sender", T.StringType(), False),
            T.StructField("block", T.LongType(), False),
            T.StructField("order", T.IntegerType(), False),
        ]
    )

    def databases(self) -> DataFrame:
        return self._read(self._db_path(), self.DB_SCHEMA)

    def databases_latest(self) -> list[dict]:
        """Live databases: latest catalog row per address, tombstones
        (db_type='deleted') excluded — the M6 visibility contract."""
        w = Window.partitionBy("db_addr").orderBy(
            F.col("block").desc(), F.col("order").desc()
        )
        return [
            r.asDict()
            for r in self.databases()
            .withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1 AND db_type != 'deleted'")
            .drop("_rn")
            .collect()
        ]

    def collections(self, db_addr: str | None = None) -> DataFrame:
        """Latest catalog row per (db, collection) — AddIndex appends versions."""
        df = self._read(self._col_path(), self.COL_SCHEMA)
        if db_addr is not None:
            df = df.filter(F.col("db_addr") == db_addr)
        w = Window.partitionBy("db_addr", "col_name").orderBy(
            F.col("block").desc(), F.col("order").desc()
        )
        return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")

    def databases_of_owner(self, sender: str) -> DataFrame:
        """Owner index scan — db_owner_key_v2.rs:21-33."""
        return self.databases().filter(F.col("sender") == sender)

    def _db_exists(self, db_addr: str) -> bool:
        return bool(self.databases().filter(F.col("db_addr") == db_addr).head(1))

    def _indexed_paths(self, db_addr: str, col: str) -> list[tuple[str, str]]:
        """Registered (path, type) index pairs of a collection (M8)."""
        row = self._col_row(db_addr, col)
        if row is None or not row["index_fields"]:
            return []
        return [
            (i["path"], i.get("type", "string"))
            for i in json.loads(row["index_fields"])
        ]

    def _col_row(self, db_addr: str, col: str):
        """Latest catalog row of one collection, or None.

        Every write, GetDoc and RunQuery asks this, so the rows live in a
        driver dict, reloaded through ``collections()`` only when the
        catalog's validity token changes: the resolved ``__collections``
        path plus its file listing. An append adds a uniquely named file
        and a rewrite flips ``_current``, so any writer's change — this
        instance's or another ``DocStore`` on the same root — changes the
        token. It is taken BEFORE the read: a file landing in between
        changes the token again and forces the next call to reload."""
        path = self._col_path()
        token = (path, tuple(self.fs.listdir(path)))
        cache = self._col_cache
        if cache is None or cache[0] != token:
            rows = {
                (r["db_addr"], r["col_name"]): r
                for r in self.collections().collect()
            }
            cache = self._col_cache = (token, rows)
        return cache[1].get((db_addr, col))

    def create_database(
        self, sender: str, nonce: int | None, desc: str = "", db_type: str = "doc",
        meta: dict | None = None, db_addr: str | None = None,
        seq: tuple[int, int] | None = None, mid: str | None = None,
    ) -> str:
        """M0 CreateDocumentDB / M5 CreateEventDB / M7 Mint (explicit addr).

        ``nonce=None`` skips nonce consumption — the foreign-log import
        path (sources/wire_import.py) synthesizes creates for databases
        that predate the imported window, whose original nonces are
        unknown or already consumed; it requires an explicit ``db_addr``
        since the deterministic derivation needs a nonce.
        """
        if nonce is not None:
            self.state.incr_nonce(sender, nonce)
        elif db_addr is None:
            raise InvalidMutation("create without nonce needs an explicit db_addr")
        addr = db_addr or derive_db_addr(sender, nonce, self.network)
        block, order = self._seq(seq)
        self._append(
            [
                {
                    "db_addr": addr, "sender": sender, "desc": desc,
                    "db_type": db_type,
                    "meta": json.dumps(meta) if meta else None,
                    "block": block, "order": order,
                }
            ],
            self.DB_SCHEMA,
            self._db_path(),
        )
        self._log(sender, 0 if nonce is None else nonce, f"create_{db_type}_db",
                  addr, None, {"desc": desc, "meta": meta}, None, block, order,
                  mid=mid)
        if db_type == "event" and meta:
            # each declared event table becomes a collection
            # (db3_database_v2.proto:73-76, db_store_v2.rs:918-979).
            # The tables are an EFFECT of the one create_event_db mutation:
            # they share its (block, order) and write no log rows of their
            # own — separate next_order() calls here would mint (block,
            # order) keys that collide with other mutations of a
            # batch-applied block, and replay recreates the tables from the
            # logged meta anyway. Same name rules as M1.
            tables = list(dict.fromkeys(meta.get("tables", [])))
            if len(tables) != len(meta.get("tables", [])):
                raise InvalidMutation("duplicate event table name in meta")
            for table in tables:
                if len(table) > self.max_col_name:
                    raise InvalidMutation(
                        f"collection name too long (> {self.max_col_name})"
                    )
            for table in tables:
                self._create_collection_raw(
                    addr, table, [], sender, seq=(block, order), log=False
                )
        return addr

    def _create_collection_raw(
        self, db_addr, name, indexes, sender, seq=None, mid=None,
        nonce: int = 0, log: bool = True,
    ):
        block, order = self._seq(seq)
        self._append(
            [
                {
                    "db_addr": db_addr, "col_name": name,
                    "index_fields": json.dumps(indexes), "sender": sender,
                    "block": block, "order": order,
                }
            ],
            self.COL_SCHEMA,
            self._col_path(),
        )
        if log:
            self._log(sender, nonce, "add_collection", db_addr, name,
                      {"indexes": indexes}, None, block, order, mid=mid)

    def create_collection(
        self, db_addr: str, name: str, indexes: list[dict] | None = None,
        sender: str = "", nonce: int | None = None, mid: str | None = None,
        seq: tuple[int, int] | None = None,
    ) -> None:
        """M1 AddCollection — idempotence check db_store_v2.rs:593-614."""
        if nonce is not None:
            self.state.incr_nonce(sender, nonce)
        if len(name) > self.max_col_name:
            raise InvalidMutation(f"collection name too long (> {self.max_col_name})")
        if not self._db_exists(db_addr):
            raise DatabaseNotFound(db_addr)
        if self._col_row(db_addr, name) is not None:
            raise CollectionAlreadyExists(f"{db_addr}/{name}")
        self._create_collection_raw(
            db_addr, name, indexes or [], sender, seq=seq, mid=mid,
            nonce=nonce or 0,
        )

    def add_index(
        self, db_addr: str, name: str, new_indexes: list[dict], sender: str,
        seq: tuple[int, int] | None = None, mid: str | None = None,
    ) -> None:
        """M8 AddIndex — path collision rejected (db_store_v2.rs:1108-1147).

        Index registration is a correctness no-op on Spark (Catalyst pushdown
        covers it — SURVEY.md §4.1); we validate + record for parity, and the
        paths become candidates for partition/Z-ORDER layout in compact().
        Logged like every other mutation — a replica that replays the log
        must end with the same registered indexes (and the same compact()
        layout), not silently fewer.
        """
        row = self._col_row(db_addr, name)
        if row is None:
            raise CollectionNotFound(f"{db_addr}/{name}")
        if row["sender"] != sender:
            raise OwnerVerifyFailed(f"collection {name} not owned by {sender}")
        existing = {i["path"] for i in json.loads(row["index_fields"] or "[]")}
        for idx in new_indexes:
            if idx["path"] in existing:
                raise IndexAlreadyExists(idx["path"])
        merged = json.loads(row["index_fields"] or "[]") + list(new_indexes)
        block, order = self._seq(seq)
        self._append(
            [
                {
                    "db_addr": db_addr, "col_name": name,
                    "index_fields": json.dumps(merged), "sender": row["sender"],
                    "block": block, "order": order,
                }
            ],
            self.COL_SCHEMA,
            self._col_path(),
        )
        self._log(sender, 0, "add_index", db_addr, name,
                  {"indexes": list(new_indexes)}, None, block, order, mid=mid)

    # ------------------------------------------------------------------
    # documents — M2 add, M3 update, M4 delete
    # ------------------------------------------------------------------

    def _require_col(self, db_addr: str, col: str) -> None:
        if self._col_row(db_addr, col) is None:
            raise CollectionNotFound(f"{db_addr}/{col}")

    def _doc_versions(
        self, db_addr: str, col: str, doc_ids: list[int] | None = None
    ) -> DataFrame:
        """Every stored version of a collection's docs, narrowed to an id
        set (with bucket pruning) when ``doc_ids`` is given."""
        self._require_col(db_addr, col)
        df = self._read_docs(self._data_path(db_addr, col))
        if doc_ids is not None:
            buckets = sorted({int(i) // DOC_IDS_PER_BUCKET for i in doc_ids})
            df = df.filter(
                (F.col("doc_bucket").isin(buckets) | F.col("doc_bucket").isNull())
                & F.col("doc_id").isin([int(i) for i in doc_ids])
            )
        return df

    def current_state(
        self, db_addr: str, col: str, doc_ids: list[int] | None = None
    ) -> DataFrame:
        """Merge-on-read view: latest version per doc_id, tombstones dropped.

        ``doc_ids`` narrows the view to an id set BEFORE the state window:
        the derived ``doc_bucket`` predicate prunes whole partition
        directories (the directory-level analog of the reference's
        ``/doc/‖db‖id`` point-get key, db_doc_key_v2.rs:24-40) and the
        doc_id filter then prunes row groups via the compacted sort's
        min/max stats — a point get touches one bucket, not the corpus.
        Null buckets (legacy flat files) are kept, never skipped.
        """
        w = Window.partitionBy("doc_id").orderBy(
            F.col("block").desc(), F.col("order").desc()
        )
        return (
            self._doc_versions(db_addr, col, doc_ids)
            .withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("op") != "D"))
            .drop("_rn", "op", "doc_bucket")
        )

    def add_docs(
        self, db_addr: str, col: str, docs: list[str], sender: str,
        nonce: int | None = None, doc_ids: list[int] | None = None,
        mid: str | None = None,
    ) -> list[int]:
        """M2 AddDocument — sequential ids, ownership rows, append.

        ``doc_ids`` seeds a store with documents at known ids instead of
        the counter's next ones (db_store_v2.rs:1347-1385); the counter
        moves past them.
        """
        self._require_col(db_addr, col)
        if nonce is not None:
            self.state.incr_nonce(sender, nonce)
        for d in docs:
            json.loads(d)  # reject non-JSON early, like BSON decode does
        if doc_ids is None:
            ids = self.state.take_doc_ids(db_addr, len(docs))
        else:
            if len(doc_ids) != len(docs):
                raise InvalidMutation("doc_ids length mismatch")
            ids = list(doc_ids)
            self.state.advance_doc_counters({db_addr: max(ids, default=0)})
        block, order = self.state.next_order()
        rows = [
            {
                "doc_id": i, "owner": sender, "doc": d, "op": "A",
                "block": block, "order": order,
            }
            for i, d in zip(ids, docs)
        ]
        self._append_doc_rows(rows, self._data_path(db_addr, col))
        self._log(sender, nonce or 0, "add_document", db_addr, col,
                  {"docs": docs}, ids, block, order, mid=mid)
        return ids

    def _latest_live(
        self, db_addr: str, col: str, ids: list[int]
    ) -> dict[int, Row]:
        """Each id's latest live version, as a ``current_state`` row.

        One bucket-pruned point read (one Spark job) collects the ids'
        stored versions; the latest per id is picked here, as
        ``current_state``'s window would, without the window's shuffle
        job. Ids whose latest version is a tombstone, or that were never
        stored, are absent."""
        latest = {}
        for r in self._doc_versions(db_addr, col, ids).select(
            "doc_id", "owner", "doc", "op", "block", "order"
        ).collect():
            cur = latest.get(r["doc_id"])
            if cur is None or (r["block"], r["order"]) > (cur["block"], cur["order"]):
                latest[r["doc_id"]] = r
        return {
            i: Row(doc_id=i, owner=r["owner"], doc=r["doc"],
                   block=r["block"], order=r["order"])
            for i, r in latest.items() if r["op"] != "D"
        }

    def _owned_docs(
        self, db_addr: str, col: str, ids: list[int], sender: str
    ) -> dict[int, str | None]:
        """Owner-only guard for update/delete — db_store_v2.rs:819-846.
        Returns doc_id → live doc text, for the merge."""
        live = self._latest_live(db_addr, col, ids)
        missing = [i for i in ids if i not in live]
        if missing:
            raise InvalidMutation(f"documents not found: {missing}")
        bad = [i for i in ids if live[i]["owner"] != sender]
        if bad:
            raise OwnerVerifyFailed(f"sender {sender} does not own docs {bad}")
        return {i: r["doc"] for i, r in live.items()}

    def update_docs(
        self, db_addr: str, col: str, ids: list[int], patches: list[str],
        sender: str, nonce: int | None = None, mid: str | None = None,
    ) -> None:
        """M3 UpdateDocument — merge-patch against current state, append new
        full versions (ids and patches must align: db_store_v2.rs:1386-1425).

        The merge runs on the driver: an UpdateDocument names a handful of
        ids, whose stored versions the owner check has already collected,
        so a Spark join and a pandas-UDF job would only add their latency
        under the sequencer lock. An id named twice merges each patch
        against the stored version, as the set-wise UDF does.
        """
        if len(ids) != len(patches):
            raise InvalidMutation("ids and docs must align")
        self._require_col(db_addr, col)
        if nonce is not None:
            self.state.incr_nonce(sender, nonce)
        stored = self._owned_docs(db_addr, col, ids, sender)
        merged = [_merged_doc(stored[i], p) for i, p in zip(ids, patches)]
        block, order = self.state.next_order()
        rows = [
            {
                "doc_id": i, "owner": sender, "doc": d, "op": "U",
                "block": block, "order": order,
            }
            for i, d in zip(ids, merged)
        ]
        self._append_doc_rows(rows, self._data_path(db_addr, col))
        self._log(sender, nonce or 0, "update_document", db_addr, col,
                  {"patches": patches}, ids, block, order, mid=mid)

    def delete_docs(
        self, db_addr: str, col: str, ids: list[int], sender: str,
        nonce: int | None = None, mid: str | None = None,
    ) -> None:
        """M4 DeleteDocument — owner-only tombstones (db_store_v2.rs:1426-1447)."""
        self._require_col(db_addr, col)
        if nonce is not None:
            self.state.incr_nonce(sender, nonce)
        self._owned_docs(db_addr, col, ids, sender)
        block, order = self.state.next_order()
        rows = [
            {
                "doc_id": i, "owner": sender, "doc": None, "op": "D",
                "block": block, "order": order,
            }
            for i in ids
        ]
        self._append_doc_rows(rows, self._data_path(db_addr, col))
        self._log(sender, nonce or 0, "delete_document", db_addr, col,
                  None, ids, block, order, mid=mid)

    # ------------------------------------------------------------------
    # reads — S6 point get, JQL queries (RunQuery)
    # ------------------------------------------------------------------

    def get_doc(self, db_addr: str, col: str, doc_id: int):
        """S6 point get — doc_store.rs:240-250. Bucket-pruned: touches one
        partition directory, not the collection, in one Spark job."""
        return self._latest_live(db_addr, col, [doc_id]).get(int(doc_id))

    def query_docs(
        self, db_addr: str, col: str, query: str, params=None
    ) -> tuple[DataFrame, int]:
        """IndexerNode.RunQuery: JQL over one collection, returns (docs, count).

        The count accompanies every response (RunQueryResponse{documents,
        count} — db3_indexer.proto:36-38). Count reflects the *matched* set
        (pre-limit), like doc_store.rs:208-213.

        One pass over the collection: the matched set is materialized once
        as an eager ``localCheckpoint`` — the count and the returned
        documents both read that immutable snapshot instead of re-running
        the state window.

        The snapshot, not a recomputable cache, is what makes the
        ``(rows, count)`` pair durable in this single-writer store where
        the same process both queries and appends: a recomputing plan
        (persist + later eviction) would re-scan the live collection
        directory, so rows collected after an intervening append could
        diverge from the count returned with them. A checkpointed result
        can never drift — it no longer references the source files at all.

        The bounded FIFO (``QUERY_CACHE_SLOTS`` entries) holds OUR
        references so a long-lived node's query traffic cannot accumulate
        snapshots it no longer serves; eviction just drops the store's
        reference — a caller still holding the result keeps its snapshot
        alive (executor block storage frees on GC via the ContextCleaner).
        ``release_query_caches()`` drops them all.

        Deployment note: ``localCheckpoint`` blocks are deliberately NOT
        recomputable — that is the drift guarantee above — so losing an
        executor that holds them fails later reads of that snapshot.
        Run the storage node's executors static (no dynamic allocation /
        spot kills), exactly as Spark's own localCheckpoint docs require;
        a lost snapshot is recovered by re-running the query.
        """
        from rtstore_spark.jql.compiler import apply_stages, compile_predicate
        from rtstore_spark.jql.parser import parse_jql

        q = parse_jql(query)
        state_df = self.current_state(db_addr, col)
        pred = compile_predicate(q, state_df, params=params, doc_col="doc")
        matched_df = state_df.filter(pred).localCheckpoint(eager=True)
        self._query_caches.append(matched_df)
        while len(self._query_caches) > QUERY_CACHE_SLOTS:
            self._query_caches.pop(0)
        matched = matched_df.count()
        out = apply_stages(matched_df, q, doc_col="doc", order_col="doc_id")
        return out, matched

    def release_query_caches(self) -> None:
        """Drop the store's references to every RunQuery snapshot (callers
        still holding results keep their own snapshots alive)."""
        self._query_caches.clear()

    # ------------------------------------------------------------------
    # maintenance — compaction (the scale path for merge-on-read)
    # ------------------------------------------------------------------

    def compact(self, db_addr: str, col: str) -> None:
        """Collapse version history into the current state.

        At 100 TB the MOR window would otherwise re-shuffle the full history
        every read; compaction bounds history to one snapshot + recent log.
        The swap is a generation write + `_current` pointer flip
        (``_rewrite``) — object-store safe, no directory rename, and a
        crash at any point leaves readers on the previous snapshot.

        Sort order realizes the registered indexes (M8): rows sort by the
        indexed JSON paths first, then doc_id — parquet row-group min/max
        stats then prune filters on those fields the way the reference's
        EJDB2 secondary indexes did, with the primary-key sort as the
        tiebreaker for point gets. When TWO OR MORE indexes are registered
        and all are numeric, the sort key is their **Z-order value**
        (bit-interleaved range-normalized ranks) instead of a
        lexicographic chain: a chained sort only prunes filters on the
        leading column, while Z-order keeps every indexed column's values
        locally clustered, so row-group stats prune filters on ANY of them
        — the multi-index story a single physical sort order can actually
        deliver. The doc-bucket partition layout is preserved (one sorted
        file per bucket), so point-get pruning survives compaction.
        """
        self._require_col(db_addr, col)
        snap = self.current_state(db_addr, col).withColumn("op", F.lit("A"))
        # cast by the declared index type: a raw get_json_object sorts
        # string-wise ("10" < "5"), which would scatter numeric ranges
        _SORT_TYPES = {
            "int64": "long", "int32": "long", "double": "double",
            "float": "double", "timestamp": "long",
        }
        numeric_cols, other_cols = [], []
        for p, typ in self._indexed_paths(db_addr, col):
            c = F.get_json_object(
                F.col("doc"), "$." + p.lstrip("/").replace("/", ".")
            )
            if typ in _SORT_TYPES:
                numeric_cols.append(c.cast(_SORT_TYPES[typ]))
            else:
                other_cols.append(c)
        if len(numeric_cols) >= 2 and not other_cols:
            sort_cols = [self._zorder_value(snap, numeric_cols)]
        else:
            sort_cols = numeric_cols + other_cols
        sort_cols.append(F.col("doc_id"))
        self._rewrite(
            self._data_root(db_addr, col),
            lambda dest: (
                snap.select([f.name for f in DOC_SCHEMA.fields])
                .withColumn(
                    "doc_bucket", F.expr(f"doc_id div {DOC_IDS_PER_BUCKET}")
                )
                .repartition("doc_bucket")
                # partition col leads the sort: the dynamic-partition writer
                # requires ordering by partition columns and would insert its
                # own (index-order-destroying) sort if ours didn't satisfy it
                .sortWithinPartitions(F.col("doc_bucket"), *sort_cols)
                .write.mode("overwrite")
                .partitionBy("doc_bucket")
                .parquet(dest)
            ),
        )

    def close_block(
        self, compact_every: int = 16, max_files: int = 32
    ) -> list[tuple[str, str]]:
        """Close the open block and, on every ``compact_every``-th block
        (0: never), run the ``maybe_compact(max_files)`` sweep; returns
        what it compacted.

        The one small-file policy of the store: every online write lands
        as its own small parquet object, and this fold bounds them. Both
        steps run under the sequencer lock, so no mutation, and no
        envelope append (``Ingest.send_wire_mutation`` archives inside
        the same lock), lands in a table while its snapshot is rewritten.
        """
        with self.state.lock:
            block = self.state.next_block()
            if compact_every and block % compact_every == 0:
                return self.maybe_compact(max_files)
            return []

    def _live_file_count(self, root: str) -> int:
        """Parquet files in a table's live (pointer-resolved) directory."""
        path = self._resolve(root)
        return len(
            [
                f
                for f in self.fs.list_files_recursive(path)
                if f.endswith(".parquet")
            ]
        )

    def maybe_compact(self, max_files: int = 32) -> list[tuple[str, str]]:
        """File-count-triggered compaction sweep — the automatic policy a
        long-running ingest needs: every append is one file (sequential
        path: per mutation; batch path: per block), so without a trigger
        the merge-on-read window degrades into a many-small-files scan.
        Mirrors the reference's scheduled rollup cadence
        (storage_node_light_impl.rs:167) on the storage side.

        Any live collection whose resolved directory holds more than
        ``max_files`` parquet files is compacted; the ``__databases`` /
        ``__collections`` catalogs (one file per catalog mutation) are
        collapsed by the same threshold. Each check is one file listing
        per table — cheap enough for a per-N-blocks cadence. Returns the
        compacted (db_addr, col) pairs (catalogs as ("__catalogs", "")).
        """
        done: list[tuple[str, str]] = []
        for d in self.databases_latest():
            for r in self.collections(d["db_addr"]).collect():
                root = self._data_root(r["db_addr"], r["col_name"])
                if self._live_file_count(root) > max_files:
                    self.compact(r["db_addr"], r["col_name"])
                    done.append((r["db_addr"], r["col_name"]))
        if any(
            self._live_file_count(root) > max_files
            for root in (self._db_root(), self._col_root())
        ):
            self.compact_catalogs()
            done.append(("__catalogs", ""))
        wire_root = self._wire_archive_path()
        if (
            self.fs.exists(wire_root)
            and self._live_file_count(wire_root) > max_files
        ):
            self.compact_wire_archive()
            done.append(("__wire_archive", ""))
        return done

    def _zorder_value(self, snap: DataFrame, cols: list, bits: int = 16):
        """Z-order (Morton) value Column over numeric index columns.

        Each column is range-normalized to a ``bits``-bit rank using
        min/max from ONE tiny stats aggregate over the snapshot (the only
        extra job Z-ordering costs), then the ranks' bits are interleaved
        — the same interleave a lakehouse OPTIMIZE ZORDER performs. Pure
        Column arithmetic afterwards: shiftright/bitwiseAND/shiftleft
        stay inside whole-stage codegen. Nulls and degenerate ranges
        (min == max) rank 0.
        """
        aggs = []
        for i, c in enumerate(cols):
            aggs.append(F.min(c).alias(f"mn{i}"))
            aggs.append(F.max(c).alias(f"mx{i}"))
        stats = snap.agg(*aggs).collect()[0]
        k = len(cols)
        # every interleaved bit position b*k+i must stay below 63: bit 63
        # is the long's sign (flips the sort) and 64+ wraps via JVM shift
        # masking. With many columns the per-column rank gets coarser —
        # the correct Z-order trade, never a corrupt one.
        bits = max(1, min(bits, 63 // k))
        scale = (1 << bits) - 1
        z = F.lit(0).cast("long")
        for i, c in enumerate(cols):
            mn, mx = stats[f"mn{i}"], stats[f"mx{i}"]
            if mn is None or mx is None or float(mx) == float(mn):
                continue  # constant/empty column contributes nothing
            span = float(mx) - float(mn)
            rank = F.least(
                F.greatest(
                    (
                        (c.cast("double") - float(mn)) / span * scale
                    ).cast("long"),
                    F.lit(0),
                ),
                F.lit(scale),
            )
            rank = F.coalesce(rank, F.lit(0))
            for b in range(bits):
                if b * k + i > 62:  # belt-and-braces for k > 63 columns
                    break
                bit = F.shiftright(rank, b).bitwiseAND(F.lit(1))
                z = z + F.shiftleft(bit, b * k + i)
        return z

    def compact_catalogs(self) -> None:
        """Collapse the append-only ``__databases`` / ``__collections``
        catalogs — one file per mutation otherwise — into a single parquet
        file each, via the same pointer-flip rewrite as ``compact``.
        Catalog history is preserved verbatim (every version row survives;
        ``databases_latest``/``collections`` window over versions), only
        the file count collapses.
        """
        for root, schema in (
            (self._db_root(), self.DB_SCHEMA),
            (self._col_root(), self.COL_SCHEMA),
        ):
            if not self.fs.exists(root):
                continue
            df = self._read(self._resolve(root), schema)
            self._rewrite(
                root,
                lambda dest, df=df: df.coalesce(1)
                .write.mode("overwrite")
                .parquet(dest),
            )

    # ------------------------------------------------------------------
    # replay — S12/S13 indexer tail-sync & cold start
    # ------------------------------------------------------------------

    def mutation_log(self) -> DataFrame:
        """Live mutation log: explicitly-listed ``block_bucket=`` partition
        directories of the resolved generation (basePath keeps the
        partition column + pruning), ignoring any orphan ``gen-*`` dir a
        crashed GC rewrite left before its pointer flip."""
        path = self._log_path()
        parts = [
            os.path.join(path, e)
            for e in self.fs.listdir(path)
            if e.startswith("block_bucket=")
        ]
        if not parts:
            return self.spark.createDataFrame([], schema=LOG_READ_SCHEMA)
        return (
            self.spark.read.schema(LOG_READ_SCHEMA)
            .option("basePath", path)
            .parquet(*parts)
        )

    def get_mutation(self, tx_id: str):
        """GetMutationHeader/GetMutationBody: point lookup by mutation id."""
        rows = self.mutation_log().filter(F.col("id") == tx_id).head(1)
        return rows[0] if rows else None

    # -- wire-envelope archive ------------------------------------------
    # The reference's rollup persists the ORIGINAL client envelope bytes
    # (payload + signature land verbatim in mutation_store, then in the
    # rollup parquet — ar_toolbox.rs:83-127). This engine's log stores the
    # decoded form, so wire-ingested mutations keep their envelopes here;
    # the rollup export emits them verbatim, preserving client custody.

    def _wire_archive_path(self) -> str:
        return f"{self.root}/wire_archive"

    def archive_wire_envelope(
        self, mid: str, payload: bytes, signature: str, block: int, order: int
    ) -> None:
        """Write one original client envelope, as one parquet object in
        the live generation's ``block_bucket=`` directory, before the
        SendMutation is acknowledged. ``Ingest.send_wire_mutation`` calls
        this inside the sequencer-lock span, after the mutation's doc and
        log rows: the envelope is the last of its durable writes, and no
        ``close_block`` sweep can rewrite the archive while it is in
        flight. A crash between the log row and this write leaves a
        logged mutation without its envelope; the rollup export
        re-attests such rows (sources/wire_export.py). ``close_block``
        folds the one-object-per-mutation files."""
        self._write_rows(
            [{
                "id": mid, "payload": payload, "signature": signature,
                "block": block, "order": order,
            }],
            WIRE_ARCHIVE_SCHEMA, self._resolve(self._wire_archive_path()),
            ("block_bucket", "block", LOG_BLOCKS_PER_BUCKET),
        )

    def flush_wire_archive(self) -> None:
        """No-op: every envelope is on disk when ``archive_wire_envelope``
        returns. Kept because the benchmark's block tick
        (perfbench/serve.py) and its trace wrappers call it."""

    def compact_wire_archive(self) -> None:
        """Collapse the per-mutation envelope files — the wire ingest path
        appends one single-row parquet per SendMutation, so a busy node
        accumulates tiny files every export/GetBlock scan must open.
        Same pointer-flip rewrite as ``compact``: one file per
        block_bucket partition afterwards, bucket pruning preserved.
        The single writer runs it under the sequencer lock
        (``close_block``), so no envelope lands in the generation it
        supersedes."""
        root = self._wire_archive_path()
        if not self.fs.exists(root):
            return
        snap = self.wire_archive()
        self._rewrite(
            root,
            lambda dest: (
                snap.repartition("block_bucket")
                .sortWithinPartitions("block_bucket", "block", "order")
                .write.mode("overwrite")
                .partitionBy("block_bucket")
                .parquet(dest)
            ),
        )

    def wire_archive(self, block_start: int = 0, block_end: int | None = None) -> DataFrame:
        """Archived original envelopes in [block_start, block_end) —
        empty-safe, partition-pruned like the log. Every acknowledged
        envelope is already a file, so this is a plain read of the live
        generation's listed ``block_bucket=`` files (hidden temp objects
        of in-flight writes excluded)."""
        path = self._resolve(self._wire_archive_path())
        read_schema = T.StructType(
            WIRE_ARCHIVE_SCHEMA.fields
            + [T.StructField("block_bucket", T.LongType(), True)]
        )
        files = []
        if self.fs.exists(path):
            sep = "/" if "://" in path else os.sep
            files = [
                f for f in self.fs.list_files_recursive(path)
                if f"{sep}block_bucket=" in f
                and not f.rsplit(sep, 1)[-1].startswith(("_", "."))
            ]
        if not files:
            df = self.spark.createDataFrame([], schema=read_schema)
        else:
            df = (
                self.spark.read.schema(read_schema)
                .option("basePath", path)
                .parquet(*files)
            )
        end = block_end if block_end is not None else (1 << 62)
        lo = block_start // LOG_BLOCKS_PER_BUCKET
        hi = (max(end - 1, block_start)) // LOG_BLOCKS_PER_BUCKET
        return (
            df.filter((F.col("block_bucket") >= lo) & (F.col("block_bucket") <= hi))
            .filter((F.col("block") >= block_start) & (F.col("block") < end))
        )

    def scan_mutation_headers(self, offset: int = 0, limit: int = 50) -> DataFrame:
        """ScanMutationHeader: newest-first page, capped at scan_max_limit=50
        (mutation_store.rs:58, :395-440)."""
        limit = min(limit, 50)
        return (
            self.mutation_log()
            .orderBy(F.col("block").desc(), F.col("order").desc())
            .offset(offset)
            .limit(limit)
            .drop("payload")
        )

    def get_block(self, block: int) -> DataFrame:
        """GetBlock (db3_storage.proto): every mutation of one block, in
        order — the partition-pruned single-block form of S3."""
        return self.get_range_mutations(block, block + 1)

    def mutation_state(self) -> dict:
        """GetMutationState: node-level totals (db3_base.proto:52-63;
        mutation_store.rs:173-196) — one aggregate scan of the log."""
        row = self.mutation_log().agg(
            F.count(F.lit(1)).alias("mutation_count"),
            F.coalesce(F.sum(F.length("payload")), F.lit(0)).alias("total_storage_bytes"),
            F.coalesce(F.max("block"), F.lit(0)).alias("block"),
            F.coalesce(F.max("order"), F.lit(0)).alias("order"),
        ).collect()[0]
        return {
            "mutation_count": row["mutation_count"],
            "total_storage_bytes": int(row["total_storage_bytes"]),
            "block": int(row["block"]),
            "order": int(row["order"]),
        }

    def get_range_mutations(self, block_start: int, block_end: int) -> DataFrame:
        """S3 block-range scan — mutation_store.rs:522-570.

        The redundant block_bucket bounds turn the block filter into
        partition pruning (directories outside the range never get listed).
        """
        lo = block_start // LOG_BLOCKS_PER_BUCKET
        hi = (max(block_end - 1, block_start)) // LOG_BLOCKS_PER_BUCKET
        return (
            self.mutation_log()
            .filter((F.col("block_bucket") >= lo) & (F.col("block_bucket") <= hi))
            .filter((F.col("block") >= block_start) & (F.col("block") < block_end))
            .orderBy("block", "order")
        )

    def apply_mutation(self, row: dict) -> None:
        """Re-apply one logged control mutation (indexer_impl.rs:259-324):
        a database create, add_collection or add_index, at the origin's
        (block, order) and re-logged under the origin's mutation id so
        GetMutationHeader lookups agree across replicas. Document
        mutations replay set-wise (store/replay.py).
        """
        action = row["action"]
        payload = json.loads(row["payload"]) if row.get("payload") else {}
        seq = (row["block"], row["order"])
        mid = row.get("id")
        if action.startswith("create_") and action.endswith("_db"):
            db_type = action[len("create_"):-len("_db")]
            self.create_database(
                row["sender"], row["nonce"], desc=payload.get("desc") or "",
                db_type=db_type, meta=payload.get("meta"), db_addr=row["db_addr"],
                seq=seq, mid=mid,
            )
        elif action == "add_collection":
            # consume the origin's nonce BEFORE the idempotence check: the
            # sequencer state must converge to the origin's even when the
            # collection already exists on this replica
            if row["nonce"]:
                self.state.incr_nonce(row["sender"], row["nonce"])
            if self._col_row(row["db_addr"], row["col_name"]) is None:
                self._create_collection_raw(
                    row["db_addr"], row["col_name"], payload.get("indexes", []),
                    row["sender"], seq=seq, mid=mid, nonce=row["nonce"] or 0,
                )
        elif action == "add_index":
            # idempotent on replay: skip paths this replica already has
            row_c = self._col_row(row["db_addr"], row["col_name"])
            have = {
                i["path"]
                for i in json.loads((row_c or {"index_fields": "[]"})["index_fields"] or "[]")
            }
            fresh = [
                i for i in payload.get("indexes", []) if i["path"] not in have
            ]
            if fresh:
                self.add_index(
                    row["db_addr"], row["col_name"], fresh, row["sender"],
                    seq=seq, mid=mid,
                )
        else:
            raise InvalidMutation(f"not a control action: {action}")

    def replay_from(self, other: "DocStore", block_start: int = 0) -> None:
        """S13 cold-start catch-up from the origin's log
        (indexer_impl.rs:110-142) — applied set-wise (store/replay.py):
        one batch apply with O(collections touched) Spark jobs, not the
        reference's O(mutations) sequential loop."""
        from rtstore_spark.store.replay import replay_log_batch

        replay_log_batch(
            self, other.get_range_mutations(block_start, other.state.block + 1)
        )
