"""Set-wise micro-batch mutation apply, and the one set-wise document writer.

The reference applies mutations one at a time on a single node
(storage_node_light_impl.rs:613-698). Replaying that shape through Spark —
one driver loop, several jobs *per mutation* — caps ingest at tens of
mutations/sec. This module applies a whole micro-batch ("block") set-wise so
the number of Spark jobs per block is O(collections touched), independent of
the mutation count:

1. arrival stamp — one window over (file name, in-file position); the
   arrival index becomes the mutation's ``order`` within the block, so the
   merge-on-read window resolves intra-block races exactly as a sequential
   apply would.
2. verify + nonce — one ``applyInPandas`` over the senders' normalized
   addresses (``state.normalize_addr``): signature check against the
   sender as signed (Arrow-batched, distributed) and the per-account
   strictly-increasing nonce walk in arrival order (state_store.rs:171+).
   The mutation id (sha3(payload ‖ signature), id.rs:78-86) is computed in
   the same pass.
3. control-plane ops (create_database / add_collection) — rare; collected
   and applied driver-side in arrival order via the DocStore methods.
4. document ops — per touched collection, through the set-wise writer
   below: ONE append of all adds (ids from a driver-reserved contiguous
   range, pure arithmetic per mutation), the pinned state after them, ONE
   mutation-atomic ownership check of the updates and deletes, ONE
   folded-update merge append, ONE tombstone append.
5. log — ONE append of every accepted doc-op row, carrying the per-mutation
   doc_ids_map so a replica's replay reproduces identical state.

The set-wise writer (``append_adds``, ``pinned_state``, ``append_updates``,
``append_tombstones``, ``append_log``) takes one row per document mutation
— ``action, owner, block, order, ids, docs, patches`` — and is the one
write path of blocks, log replay (store/replay.py), rollup import and wire
import. It never asks who calls it: the block applier runs its owner check
between ``pinned_state`` and the update and delete writers, replay of an
already-validated log does not.

Intra-block semantics (documented deviation from strict sequential apply):
validation of updates/deletes sees the block's *adds* but not its deletes —
i.e. each mutation validates against the state at the start of the block
plus the block's adds, and same-doc races resolve by (block, order)
latest-wins. A sequential engine would additionally reject an update that
follows a delete of the same doc *within one block*; here the later arrival
wins instead. Nonces are consumed at admission, so a mutation rejected later
(e.g. ownership) still consumes its nonce.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rtstore_spark.errors import RTStoreError
from rtstore_spark.functions.merge_patch import make_json_merge_patch
from rtstore_spark.store.docstore import (
    DOC_IDS_PER_BUCKET,
    DOC_READ_SCHEMA,
    DOC_SCHEMA,
    LOG_BLOCKS_PER_BUCKET,
    LOG_SCHEMA,
    _arrow_table,
)


# the small driver-side offset tables the applier broadcasts into its plans
FILE_OFFSET_SCHEMA = (
    T.StructType().add("_f", T.StringType()).add("_off", T.LongType())
)
ARRIVAL_START_SCHEMA = (
    T.StructType().add("_arrival", T.LongType()).add("_start", T.LongType())
)
ORDER_SCHEMA = T.StructType().add("order", T.IntegerType())


def _local_df(
    spark: SparkSession, rows: list[dict], schema: T.StructType
) -> DataFrame:
    """A DataFrame over rows held on the driver (the applier's offsets).
    A ``pyarrow.Table`` is read as an Arrow stream by the JVM and starts
    no Python worker, where ``createDataFrame(<list>)`` would pickle the
    rows into a Python RDD task."""
    return spark.createDataFrame(_arrow_table(rows, schema), schema=schema)


def _normalized_addr(col):
    """``state.normalize_addr`` as a Spark expression: 0x followed by
    exactly 40 hex digits folds to lowercase, anything else passes."""
    return F.when(
        (F.length(col) == 42) & col.rlike("^0[xX][0-9a-fA-F]{40}$"),
        F.concat(F.lit("0x"), F.lower(F.substring(col, 3, 40))),
    ).otherwise(col)


PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("action", T.StringType()),
        T.StructField("db_addr", T.StringType()),
        T.StructField("col_name", T.StringType()),
        T.StructField(
            "body",
            T.StructType(
                [
                    T.StructField("docs", T.ArrayType(T.StringType())),
                    T.StructField("ids", T.ArrayType(T.LongType())),
                    T.StructField("patches", T.ArrayType(T.StringType())),
                ]
            ),
        ),
    ]
)

_CONTROL_ACTIONS = ("create_database", "add_collection")
_DOC_ACTIONS = ("add_document", "update_document", "delete_document")


def pinned_state(store, path: str) -> DataFrame:
    """current_state over a frozen file list (merge-on-read window:
    latest (block, order) per doc_id, tombstones dropped). The file
    list is collected recursively (collection data lives under
    doc_bucket= partition directories) through the store's FS interface
    — object-store roots list the same way local ones do; basePath
    keeps Spark from re-rooting the explicit file list.

    Parquet files are immutable, so every plan built from this snapshot
    stays stable even when lazily re-evaluated after further appends land
    in the same directory — the property both the block applier and the
    set-wise replayer rely on (a directory-listing read would see a
    batch's own later tombstones on recompute and mis-validate)."""
    from rtstore_spark.store.docstore import GEN_PREFIX

    # skip orphan gen-* snapshots (written but never pointer-flipped by
    # a crashed compaction) — they are not part of the live table
    files = [
        f
        for f in store.fs.list_files_recursive(path)
        if f.endswith(".parquet")
        and not os.path.relpath(f, path).startswith(GEN_PREFIX)
    ]
    if not files:
        return store.spark.createDataFrame([], schema=DOC_SCHEMA).drop("op")
    # root-level (legacy flat) files must be read separately: partition
    # discovery drops them silently once doc_bucket= paths are present
    flat = [f for f in files if os.path.dirname(f) == path.rstrip("/")]
    bucketed = [f for f in files if f not in flat]
    parts = []
    if bucketed:
        parts.append(
            store.spark.read.schema(DOC_READ_SCHEMA)
            .option("basePath", path)
            .parquet(*bucketed)
            .drop("doc_bucket")
        )
    if flat:
        parts.append(store.spark.read.schema(DOC_SCHEMA).parquet(*flat))
    df = parts[0]
    for extra in parts[1:]:
        df = df.unionByName(extra)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("block").desc(), F.col("order").desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("op") != "D"))
        .drop("_rn", "op")
    )


def make_admit_fn(initial_nonces: dict[str, int], sig_mode: str):
    """Build the per-account admission function for ``applyInPandas``
    over ``groupBy(owner)``, ``owner`` being the normalized sender: every
    spelling of one account walks one nonce sequence, while each
    signature is checked against the sender as the envelope gives it.

    Closure-factory on purpose: the function is cloudpickled by value, so
    workers never import this module. Captures only plain data — except in
    ``eip712`` mode, where the pure-Python recovery modules are registered
    for by-value pickling (see ``_ship_crypto_by_value``) so workers get
    the code without importing ``rtstore_spark``.
    Output adds: _mid (sha3(payload ‖ sig)), _ok, _reason.
    """
    recover = None
    if sig_mode == "eip712":
        _ship_crypto_by_value()
        from rtstore_spark.crypto.eip712 import recover_mutation_signer

        recover = recover_mutation_signer

    def admit(pdf):
        import hashlib

        import pandas as pd

        pdf = pdf.sort_values("_arrival")
        owner = pdf["owner"].iloc[0]
        cur = initial_nonces.get(owner, 0)
        mids, oks, reasons = [], [], []
        for payload, sig, nonce, sender in zip(
            pdf["payload"], pdf["signature"], pdf["nonce"], pdf["sender"]
        ):
            ok, reason = True, ""
            if sig_mode == "digest":
                want = hashlib.sha3_256(
                    f"{payload}|{nonce}|{sender}".encode()
                ).hexdigest()
                if sig != want:
                    ok, reason = False, "bad signature"
            elif sig_mode == "eip712":
                try:
                    if recover(payload, nonce, sig).lower() != sender.lower():
                        ok, reason = False, "signature recovers another address"
                except Exception as e:  # noqa: BLE001 - malformed sig data
                    ok, reason = False, f"malformed signature: {e}"
            elif sig_mode != "none":
                ok, reason = False, f"unsupported batch sig mode {sig_mode}"
            if ok:
                if nonce <= cur:
                    ok, reason = False, f"bad nonce for {owner}: {nonce} <= {cur}"
                else:
                    cur = nonce
            mids.append(
                hashlib.sha3_256(f"{payload}|{sig}".encode()).hexdigest()
            )
            oks.append(ok)
            reasons.append(reason)
        return pd.DataFrame(
            {
                "payload": pdf["payload"], "signature": pdf["signature"],
                "sender": pdf["sender"], "owner": pdf["owner"],
                "nonce": pdf["nonce"],
                "_arrival": pdf["_arrival"], "_mid": mids, "_ok": oks,
                "_reason": reasons,
            }
        )

    return admit


def _ship_crypto_by_value() -> None:
    """Register the crypto modules for cloudpickle BY-VALUE shipping.

    Workers cannot import ``rtstore_spark`` when the driver runs from a
    different cwd (the usual closure trap); by-value registration embeds
    the module code in the pickled closure instead. Idempotent. The
    recovery math is a few ms per signature, distributed across senders by
    the ``groupBy(sender)`` admission — a single-sender block verifies
    serially (same bound as the reference's one-node verify loop)."""
    from pyspark import cloudpickle

    import rtstore_spark.crypto.eip712 as _e
    import rtstore_spark.crypto.keccak as _k
    import rtstore_spark.crypto.secp256k1 as _s

    for mod in (_k, _s, _e):
        cloudpickle.register_pickle_by_value(mod)


ADMIT_SCHEMA = T.StructType(
    [
        T.StructField("payload", T.StringType()),
        T.StructField("signature", T.StringType()),
        T.StructField("sender", T.StringType()),
        T.StructField("owner", T.StringType()),
        T.StructField("nonce", T.LongType()),
        T.StructField("_arrival", T.LongType()),
        T.StructField("_mid", T.StringType()),
        T.StructField("_ok", T.BooleanType()),
        T.StructField("_reason", T.StringType()),
    ]
)


def make_fold_patches():
    """Arrow-batched composition of a patch chain, sorted by (block,
    order), into one equivalent RFC 7386 patch (closure-factory,
    self-contained on workers).

    Composition rule: ``apply(apply(d, p1), p2) == apply(d, p1 ∘ p2)`` where
    ``∘`` recursively merges object values and lets p2 scalars — *including
    null, which must keep deleting* — win.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    @F.pandas_udf(T.StringType())
    def fold_patches(chains):
        import json

        import pandas as pd

        def compose(p1, p2):
            if not isinstance(p2, dict) or not isinstance(p1, dict):
                return p2
            out = dict(p1)
            for k, v in p2.items():
                if isinstance(v, dict) and isinstance(out.get(k), dict):
                    out[k] = compose(out[k], v)
                else:
                    out[k] = v  # scalars AND nulls win (null still deletes)
            return out

        def fold(chain):
            acc = None
            for item in chain:  # sorted by (block, order) via sort_array
                p = json.loads(item["patch"])
                acc = p if acc is None else compose(acc, p)
            return json.dumps(acc, sort_keys=True)

        return pd.Series([fold(c) for c in chains])

    return fold_patches


# -- the set-wise document writer ------------------------------------------
# Input rows: one per document mutation, columns
#   action, owner, block, order, ids, docs, patches
# ``ids`` holds the mutation's document ids — the assigned ids of an add,
# the targets of an update or delete. Callers run the writers in the
# order adds → pinned_state → updates → tombstones (updates merge against
# the state after this batch's adds), then append the log.


def _append_partitioned(
    df: DataFrame, bucket: str, source: str, per: int, path: str
) -> None:
    """Append ``df`` under ``<bucket>=<source div per>`` directories, one
    file per bucket, each bucket written by its own task. A single-task
    write (``repartition(1)``) timed the same on 4-collection blocks of
    4-5k mutations (4-vCPU host) but funnels a large block through one
    task."""
    df.withColumn(bucket, F.expr(f"`{source}` div {per}")).repartition(
        F.col(bucket)
    ).write.mode("append").partitionBy(bucket).parquet(path)


def _append_docs(df: DataFrame, path: str) -> None:
    _append_partitioned(
        df.select(
            "doc_id", "owner", "doc", "op",
            F.col("block").cast("long"), F.col("order").cast("int"),
        ),
        "doc_bucket", "doc_id", DOC_IDS_PER_BUCKET, path,
    )


def append_adds(rows: DataFrame, path: str) -> None:
    """One append of every add's documents, at the add's (block, order)."""
    _append_docs(
        rows.filter(F.col("action") == "add_document")
        .select(
            "owner", "block", "order",
            F.explode(F.arrays_zip("ids", "docs")).alias("_z"),
        )
        .select(
            F.col("_z.ids").alias("doc_id"), "owner",
            F.col("_z.docs").alias("doc"), F.lit("A").alias("op"),
            "block", "order",
        ),
        path,
    )


def append_updates(rows: DataFrame, state_df: DataFrame, path: str) -> None:
    """One merge append of every updated document: each document's patch
    chain, sorted by (block, order), folds into one RFC 7386 patch, merges
    against its ``state_df`` row and lands at the chain's last (block,
    order). Rows whose document is absent from ``state_df`` write nothing."""
    fold = make_fold_patches()
    merge = make_json_merge_patch()
    folded = (
        rows.filter(F.col("action") == "update_document")
        .select(
            "block", "order",
            F.explode(F.arrays_zip("ids", "patches")).alias("_z"),
        )
        .groupBy(F.col("_z.ids").alias("doc_id"))
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct("block", "order", F.col("_z.patches").alias("patch"))
                )
            ).alias("_chain"),
            F.max(F.struct("block", "order")).alias("_last"),
        )
    )
    _append_docs(
        state_df.select("doc_id", "owner", "doc")
        .join(folded, "doc_id")
        .select(
            "doc_id", "owner",
            merge(F.col("doc"), fold(F.col("_chain"))).alias("doc"),
            F.lit("U").alias("op"),
            F.col("_last.block").alias("block"),
            F.col("_last.order").alias("order"),
        ),
        path,
    )


def append_tombstones(rows: DataFrame, path: str) -> None:
    """One append of a tombstone per deleted document id."""
    _append_docs(
        rows.filter(F.col("action") == "delete_document").select(
            F.explode("ids").alias("doc_id"), "owner",
            F.lit(None).cast("string").alias("doc"), F.lit("D").alias("op"),
            "block", "order",
        ),
        path,
    )


def append_log(store, log_df: DataFrame) -> None:
    """One append of LOG_SCHEMA rows to the store's mutation log."""
    _append_partitioned(
        log_df.select([f.name for f in LOG_SCHEMA.fields]),
        "block_bucket", "block", LOG_BLOCKS_PER_BUCKET, store._log_path(),
    )


class BatchApplier:
    """Applies one staged micro-batch of signed envelopes as a block."""

    def __init__(self, ingest):
        self.ingest = ingest
        self.store = ingest.store
        self.spark = ingest.store.spark

    # -- helpers -------------------------------------------------------

    def _reject_rows(self, rows, reason_col="_reason"):
        out = []
        for r in rows:
            # a malformed staging line parses (PERMISSIVE) to an all-null
            # row — the reject path must report it, not crash on int(None)
            nonce = r["nonce"]
            env = {
                "payload": r["payload"], "signature": r["signature"],
                "sender": r["sender"],
                "nonce": int(nonce) if nonce is not None else 0,
            }
            out.append((env, r[reason_col]))
        return out

    def _stamp_arrival(self, batch_df: DataFrame) -> DataFrame:
        """Stamp each envelope with its global arrival index (1-based,
        contiguous) ordered by (file path, split offset, in-split row).

        Falls back to ``input_file_name()`` with a zero split offset when
        the stream's ``_file``/``_split_start`` projection is absent (a
        caller handing in a plain file-backed DataFrame)."""
        if "_file" in batch_df.columns:
            rows = batch_df.withColumn(
                "_s", F.col("_split_start").cast("long")
            ).withColumnRenamed("_file", "_f")
        else:
            rows = batch_df.withColumn("_f", F.input_file_name()).withColumn(
                "_s", F.lit(0).cast("long")
            )
        per_file = rows.groupBy("_f").count().collect()
        offs, cum = [], 0
        for r in sorted(per_file, key=lambda r: r["_f"]):
            offs.append({"_f": r["_f"], "_off": cum})
            cum += r["count"]
        off_df = _local_df(self.store.spark, offs, FILE_OFFSET_SCHEMA)
        w = Window.partitionBy("_f").orderBy(
            "_s", F.monotonically_increasing_id()
        )
        return (
            rows.join(F.broadcast(off_df), "_f")
            .withColumn("_arrival", F.col("_off") + F.row_number().over(w))
            .drop("_f", "_s", "_off", "_split_start")
        )

    def _atomic_check(self, rows: DataFrame, state_df: DataFrame):
        """Mutation-atomic ownership/existence check of the updates and
        deletes among ``rows`` against ``state_df``: one join + one agg +
        one collect of the failures. The reference rejects the whole
        mutation if any id fails (db_store_v2.rs:819-846). Returns
        (``rows`` minus the rejected mutations, rejected list); a mutation
        with an empty ids array has nothing to fail and stays."""
        checked = rows.filter(
            F.col("action").isin("update_document", "delete_document")
        )
        owners = state_df.select("doc_id", F.col("owner").alias("_owner"))
        fails = (
            checked.select("order", "owner", F.explode("ids").alias("doc_id"))
            .join(owners, "doc_id", "left")
            .groupBy("order")
            .agg(
                F.max(
                    F.when(F.col("_owner").isNull(), F.lit("documents not found"))
                    .when(F.col("_owner") != F.col("owner"), F.lit("owner mismatch"))
                ).alias("_fail")
            )
            .filter(F.col("_fail").isNotNull())
        )
        bad = (
            fails.join(checked, "order")
            .select("payload", "signature", "sender", "nonce", "order", "_fail")
            .collect()
        )
        if bad:
            orders = _local_df(
                self.spark, [{"order": r["order"]} for r in bad], ORDER_SCHEMA
            )
            rows = rows.join(F.broadcast(orders), "order", "left_anti")
        return rows, self._reject_rows(bad, reason_col="_fail")

    @staticmethod
    def _json_file_source(df: DataFrame) -> bool:
        """True unless ``df`` demonstrably reads a NON-JSON file source.

        ``apply`` re-reads the batch's source files as JSON (to re-bind the
        plan to our session — see its docstring); doing that to a parquet-
        or csv-backed caller would silently mis-parse every row to nulls.
        Inspect the leaf relations' file format: a definite non-JSON format
        disables the re-read (the input_file_name fallback in
        _stamp_arrival handles that caller); undeterminable leaves (e.g.
        streaming micro-batch internals) keep the re-read, preserving the
        streaming-ingest path."""
        try:
            leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                try:
                    fmt = leaf.relation().fileFormat().toString()
                except Exception:  # noqa: BLE001 — not a file relation
                    continue
                if fmt.upper() != "JSON":
                    return False
        except Exception:  # noqa: BLE001 — plan reflection unavailable
            pass
        return True

    # -- the block apply ----------------------------------------------

    def apply(self, batch_df: DataFrame) -> list[tuple[dict, str]]:
        """Apply one micro-batch; returns the rejected (envelope, reason)s.

        The batch is re-read from its source files into the applier's own
        session (``inputFiles`` is a metadata call — no job): foreachBatch
        hands over a DataFrame bound to the streaming query's CLONED
        session, whose conf is frozen at query start and invisible to
        runtime ``spark.conf.set`` — re-binding makes the plans below
        governed by one session we control. On it, AQE is switched off for
        the duration of the block apply (restored after): every join side
        here is known-tiny (driver-built offset relations, per-block
        envelope sets), so adaptive re-planning can only add
        per-query-stage scheduling round-trips, never a better plan. The
        analytics read path keeps the session default (AQE on).

        Holds the sequencer lock for the whole block apply: the admit walk
        snapshots the nonce table up front and the batch then advances
        nonces / reserves doc-id ranges / stamps (block, order) — a direct
        ``send_mutation`` interleaving anywhere in between would replay
        against the stale snapshot or collide on the same sequence keys.
        The reference's timer-driven block build holds its block-state
        mutex the same way (mutation_store.rs:596-606); queries and reads
        never take this lock.
        """
        with self.store.state.lock:
            return self._apply_under_lock(batch_df)

    def _apply_under_lock(self, batch_df: DataFrame) -> list[tuple[dict, str]]:
        store, state = self.store, self.store.state
        block = state.block
        if state.order > 0:
            # the open block already holds sequential-API mutations whose
            # orders collide with this batch's arrival stamps (merge-on-read
            # resolves by (block, order), so a pre-existing add at order 3
            # would outrank this batch's update stamped order 2). Close it:
            # the batch gets a fresh block, exactly as the reference's timer
            # tick closes the window before the next mutations land.
            block = state.next_block()
        rejected: list[tuple[dict, str]] = []
        files = sorted(batch_df.inputFiles())
        if files and self._json_file_source(batch_df):
            env_schema = T.StructType(
                [f for f in batch_df.schema.fields if not f.name.startswith("_")]
            )
            batch_df = (
                self.spark.read.schema(env_schema)
                .json(files)
                .select(
                    "*",
                    F.col("_metadata.file_path").alias("_file"),
                    F.col("_metadata.file_block_start").alias("_split_start"),
                )
            )
        aqe_before = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
        parsed = None
        try:
            # the conf flip lives INSIDE the try: _stamp_arrival runs a
            # real job, and a failure there must not leave AQE disabled
            # for the rest of the session
            self.spark.conf.set("spark.sql.adaptive.enabled", "false")

            # 1. arrival order: lexicographic file path, then in-file
            # position. In-file position = (split byte-offset, row index
            # within the split): monotonically_increasing_id alone is NOT
            # enough when one file is split across input partitions,
            # because split packing order need not follow in-file offsets —
            # the _split_start column (projected from _metadata) orders the
            # splits physically. The global row number is assigned without
            # a global window: per-file counts (one tiny job, O(files) rows
            # collected) become cumulative offsets broadcast back, and each
            # file's rows get a per-file window — parallel across files,
            # deterministic.
            stamped = self._stamp_arrival(batch_df)

            # 2. admission: signature + nonce walk, one pass, by sender.
            # Envelopes missing sender/nonce/payload NEVER enter the pandas
            # walk: a single null nonce in a sender's group would coerce the
            # whole group's nonce column to float64, so every digest/eip712
            # check for that sender renders "5.0" where "5" was signed — an
            # unauthenticated one-line DoS — and a NaN nonce both passes the
            # strictly-increasing walk (NaN comparisons are all False) and
            # crashes the bulk nonce advance. They join the reject stream
            # directly, nonce-free.
            env_ok = (
                F.col("sender").isNotNull()
                & F.col("nonce").isNotNull()
                & F.col("payload").isNotNull()
            )
            malformed = stamped.filter(~env_ok).select(
                "payload", "signature", "sender",
                F.lit(None).cast("string").alias("owner"), "nonce", "_arrival",
                F.lit(None).cast("string").alias("_mid"),
                F.lit(False).alias("_ok"),
                F.lit("malformed envelope").alias("_reason"),
            )
            admit = make_admit_fn(state.nonces(), self.ingest.sig_mode)
            admitted = (
                stamped.filter(env_ok)
                .select(
                    "payload", "signature", "sender",
                    _normalized_addr(F.col("sender")).alias("owner"),
                    "nonce", "_arrival",
                )
                .groupBy("owner")
                .applyInPandas(admit, schema=ADMIT_SCHEMA)
                .unionByName(malformed)
            )
            parsed = admitted.withColumn("_p", F.from_json("payload", PAYLOAD_SCHEMA))
            parsed = parsed.select(
                "*",
                F.col("_p.action").alias("_action"),
                F.col("_p.db_addr").alias("_db"),
                F.col("_p.col_name").alias("_col"),
                F.col("_p.body.docs").alias("_docs"),
                F.col("_p.body.ids").alias("_ids"),
                F.col("_p.body.patches").alias("_patches"),
            ).drop("_p").persist()
            # One reject collect covers both admission failures AND
            # admitted rows whose action is unknown or whose payload failed
            # from_json (null _action): the latter are answered with a
            # per-mutation error like the sequential path's
            # InvalidMutation, and their nonce stays consumed — matching
            # the reference's per-mutation error responses
            # (storage_node_light_impl.rs). Silently dropping them would
            # lose the error signal while still burning the nonce.
            known = _CONTROL_ACTIONS + _DOC_ACTIONS
            bad_action = F.col("_action").isNull() | ~F.col(
                "_action"
            ).isin(*known)
            # Malformed doc-op bodies are per-mutation rejections, never
            # executor crashes: an update whose ids/patches lengths differ
            # would zip-pad a null patch into fold_patches (json.loads(None)
            # kills the whole block), and a signed non-JSON patch string
            # would do the same one call later. try_parse_json is the same
            # validation the fold's json.loads applies, just rejectable.
            bad_body = (
                (F.col("_action") == "update_document")
                & (
                    F.col("_ids").isNull()
                    | F.col("_patches").isNull()
                    | (F.size("_ids") != F.size("_patches"))
                    | F.exists(
                        "_patches",
                        lambda p: p.isNull() | F.try_parse_json(p).isNull(),
                    )
                )
            ) | ((F.col("_action") == "delete_document") & F.col("_ids").isNull())
            rejected += self._reject_rows(
                parsed.filter(~F.col("_ok") | bad_action | bad_body)
                .select(
                    "payload", "signature", "sender", "nonce",
                    # null sender = a staging line that wasn't a JSON
                    # envelope at all (PERMISSIVE parse) — name it before
                    # the generic signature reason does
                    F.when(
                        F.col("sender").isNull(), F.lit("malformed envelope")
                    )
                    .when(~F.col("_ok"), F.col("_reason"))
                    .when(
                        F.col("_action").isNull() | bad_body,
                        F.lit("malformed payload"),
                    )
                    .otherwise(
                        F.concat(F.lit("unknown action "), F.col("_action"))
                    )
                    .alias("_reason"),
                )
                .collect()
            )
            accepted = parsed.filter(F.col("_ok") & ~bad_action & ~bad_body)

            # 3. control plane — rare ops, sequential in arrival order. Runs
            # BEFORE the bulk nonce advance so create_database's own
            # incr_nonce still sees the pre-block value.
            control = accepted.filter(F.col("_action").isin(*_CONTROL_ACTIONS))
            for r in control.orderBy("_arrival").collect():
                try:
                    self._apply_control(r, block)
                except RTStoreError as e:
                    rejected.append((
                        {"payload": r["payload"], "signature": r["signature"],
                         "sender": r["sender"], "nonce": int(r["nonce"])},
                        str(e),
                    ))

            # advance nonces to each account's ADMITTED max (independent of
            # action validity — a rejected unknown-action mutation still
            # consumed its nonce in the admission walk): O(senders) rows
            state.advance_nonces({
                r["owner"]: r["n"]
                for r in parsed.filter(F.col("_ok"))
                .groupBy("owner").agg(F.max("nonce").alias("n")).collect()
            })

            # 4. document ops, set-wise per touched collection. ONE driver
            # collect of the doc-op headers (db, col, action, arrival, doc
            # count — O(mutations) small rows, same scale as the reject
            # collect) drives the whole phase: the touched-collection set,
            # which op kinds each collection has (so no per-collection
            # head() probes), and the contiguous doc-id offsets. Ids must
            # be contiguous in (_arrival, position-within-mutation) order;
            # a Window.partitionBy(lit(1)) row_number would pull every doc
            # row of the block through ONE task — instead each add's ids
            # are pure arithmetic off a broadcast per-mutation start.
            doc_ops = accepted.filter(F.col("_action").isin(*_DOC_ACTIONS))
            info = doc_ops.select(
                "_db", "_col", "_action", "_arrival",
                F.size("_docs").alias("_n"),
            ).collect()
            by_col: dict[tuple, dict] = {}
            for r in info:
                e = by_col.setdefault((r["_db"], r["_col"]), {"adds": []})
                e[r["_action"]] = True
                if r["_action"] == "add_document":
                    # clamp: size(null _docs) is -1 on Spark 3.5 (legacy
                    # sizeOfNull), null on 4.x — either way 0 docs
                    e["adds"].append((int(r["_arrival"]), max(r["_n"] or 0, 0)))

            # catalog lookups once per block, not per collection per phase
            # (tombstoned/hidden collections are absent from collections())
            existing = (
                {
                    (r["db_addr"], r["col_name"])
                    for r in store.collections()
                    .select("db_addr", "col_name")
                    .collect()
                }
                if by_col
                else set()
            )

            # one contiguous reservation per collection (sorted order keeps
            # replica id assignment deterministic), mapped to per-mutation
            # absolute start ids
            offs: list[dict] = []
            for (db, col), e in sorted(by_col.items()):
                n_docs = sum(n for _, n in e["adds"])
                if (db, col) not in existing or not n_docs:
                    continue
                cum = store.state.reserve_doc_ids(db, int(n_docs))
                for arr, n in sorted(e["adds"]):
                    offs.append({"_arrival": arr, "_start": cum})
                    cum += n
            rows = doc_ops.join(
                F.broadcast(_local_df(self.spark, offs, ARRIVAL_START_SCHEMA)),
                "_arrival", "left",
            ).select(
                "payload", "signature", "sender", "nonce", "_mid", "_db", "_col",
                F.col("_action").alias("action"), "owner",
                F.lit(block).cast("long").alias("block"),
                F.col("_arrival").cast("int").alias("order"),
                F.when(
                    F.col("_action") == "add_document",
                    F.transform("_docs", lambda _, i: F.col("_start") + i),
                ).otherwise(F.col("_ids")).alias("ids"),
                F.col("_docs").alias("docs"), F.col("_patches").alias("patches"),
            )

            logged: list[DataFrame] = []
            for db, col in sorted(by_col):
                muts = rows.filter((F.col("_db") == db) & (F.col("_col") == col))
                if (db, col) not in existing:
                    rejected += self._reject_rows(
                        muts.select("payload", "signature", "sender", "nonce")
                        .withColumn("_reason", F.lit(f"collection not found: {db}/{col}"))
                        .collect()
                    )
                    continue
                ok, rej = self._apply_collection(
                    muts, store._data_path(db, col), by_col[(db, col)]
                )
                logged.append(ok)
                rejected += rej

            # 5. one log append for every accepted doc-op mutation, its
            # payload normalized to the online _log format ({"docs": ...} /
            # {"patches": ...} / null)
            if logged:
                log_all = logged[0]
                for extra in logged[1:]:
                    log_all = log_all.unionByName(extra)
                append_log(store, log_all.select(
                    F.col("_mid").alias("id"), F.col("owner").alias("sender"),
                    "nonce", "action",
                    F.col("_db").alias("db_addr"), F.col("_col").alias("col_name"),
                    F.when(
                        F.col("action") == "add_document",
                        F.to_json(F.struct("docs")),
                    ).when(
                        F.col("action") == "update_document",
                        F.to_json(F.struct("patches")),
                    ).alias("payload"),
                    F.to_json("ids").alias("doc_ids"),
                    "block", "order",
                ))

            # sequencer high-water mark = last arrival index in this block
            top = parsed.agg(F.max("_arrival").alias("m")).collect()[0]["m"]
            if top:
                state.observe_seq(block, int(top))
        finally:
            if parsed is not None:
                parsed.unpersist()
            self.spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
        return rejected

    def _apply_control(self, r, block: int) -> None:
        store = self.store
        payload = json.loads(r["payload"])
        body = payload.get("body") or {}
        seq = (block, int(r["_arrival"]))
        if r["_action"] == "create_database":
            store.create_database(
                r["owner"], int(r["nonce"]), desc=body.get("desc", ""),
                db_type=body.get("db_type", "doc"), meta=body.get("meta"),
                seq=seq, mid=r["_mid"],
            )
        else:
            store.create_collection(
                payload["db_addr"], payload["col_name"],
                body.get("indexes", []), r["owner"], mid=r["_mid"], seq=seq,
            )

    def _apply_collection(
        self, rows: DataFrame, path: str, kinds: dict
    ) -> tuple[DataFrame, list]:
        """One collection's document ops through the set-wise writer, with
        the owner check between the pinned state and the update and
        delete writers; returns (accepted rows, rejected list). Constant
        job count regardless of mutation count — and no probe jobs at
        all: ``kinds`` (from the block-level header collect) says which
        op kinds this collection has."""
        if sum(n for _, n in kinds["adds"]):
            append_adds(rows, path)
        if "update_document" not in kinds and "delete_document" not in kinds:
            return rows, []
        # pinned to the file list after the adds: the U/D appends below
        # land in the same directory without changing this snapshot
        state_df = pinned_state(self.store, path).persist()
        try:
            rows, rejected = self._atomic_check(rows, state_df)
            if "update_document" in kinds:
                append_updates(rows, state_df, path)
            if "delete_document" in kinds:
                append_tombstones(rows, path)
        finally:
            state_df.unpersist()
        return rows, rejected
