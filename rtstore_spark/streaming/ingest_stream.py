"""Streaming ingest: the SendMutation pipeline as a Structured Streaming job.

SURVEY.md §3.1's Spark lifecycle mapping: clients drop signed mutation
envelopes (JSON lines) into a staging directory; a streaming query with a
processing-time trigger equal to the block interval picks them up, and each
micro-batch closes one "block": verify → nonce → apply → log, in file order.

The foreachBatch body runs on the driver (the single-sequencer role — the
same topology as the reference's rollup node); the heavy lifting inside
``DocStore`` (state windows, merge-patch joins, appends) is distributed.
Envelope shape: {"payload": {...}, "signature": s, "sender": a, "nonce": n}.
"""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rtstore_spark.store.ingest import Ingest

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("payload", T.StringType(), False),  # JSON text
        T.StructField("signature", T.StringType(), False),
        T.StructField("sender", T.StringType(), False),
        T.StructField("nonce", T.LongType(), False),
    ]
)


class StreamingIngest:
    def __init__(
        self,
        spark: SparkSession,
        ingest: Ingest,
        staging_dir: str,
        checkpoint: str | None = None,
        interval: str = "2 seconds",
        compact_every: int = 16,
        compact_max_files: int = 32,
    ):
        self.spark = spark
        self.ingest = ingest
        self.staging_dir = staging_dir
        self.checkpoint = checkpoint or os.path.join(
            ingest.store.root, "_chk", "ingest"
        )
        self.interval = interval
        # automatic compaction cadence: every `compact_every` blocks, any
        # collection (or catalog) holding more than `compact_max_files`
        # files is compacted — the batch path writes one file per block,
        # so an untriggered long run degrades reads into a many-small-
        # files scan. 0 disables (callers owning their own maintenance).
        self.compact_every = compact_every
        self.compact_max_files = compact_max_files
        ingest.store.fs.makedirs(staging_dir)
        self.rejected: list[tuple[dict, str]] = []
        self.compacted: list[tuple[str, str]] = []
        # block-close latch: every micro-batch boundary notifies, so a
        # coordinator can wait on "state condition X after some block
        # closed" as an event — wall-clock poll loops sized for an idle
        # box flaked under the full-gate load (round-8 #3)
        self._block_closed = threading.Condition()
        self.blocks_closed = 0

    def wait_until(self, predicate, timeout: float = 120.0) -> bool:
        """Re-evaluate ``predicate()`` once now and once after EACH
        block close until it returns truthy (→ True) or ``timeout``
        elapses (→ False). Event-driven: no sleep-poll, so a loaded box
        only pays the predicate's cost when progress actually happened."""
        deadline = time.monotonic() + timeout
        with self._block_closed:
            seen = self.blocks_closed
        while True:
            if predicate():
                return True
            with self._block_closed:
                while self.blocks_closed == seen:
                    remaining = deadline - time.monotonic()
                    if remaining <= 0:
                        return False
                    self._block_closed.wait(remaining)
                seen = self.blocks_closed

    def _apply_batch(self, batch_df, batch_id: int) -> None:
        # Set-wise block apply (store.batch_apply): Spark jobs per block are
        # O(collections touched), independent of the mutation count — the
        # reference's per-mutation loop (storage_node_light_impl.rs:635-697)
        # would make the driver the bottleneck at 100× ingest volume.
        # Rejected mutations are recorded and the block continues, like the
        # reference's per-mutation error responses.
        from rtstore_spark.store.batch_apply import BatchApplier

        self.rejected.extend(BatchApplier(self.ingest).apply(batch_df))
        # micro-batch boundary = block boundary
        self.compacted.extend(
            self.ingest.store.close_block(
                self.compact_every, self.compact_max_files
            )
        )
        with self._block_closed:
            self.blocks_closed += 1
            self._block_closed.notify_all()

    def start(self, once: bool = False):
        writer = (
            self.spark.readStream.schema(ENVELOPE_SCHEMA)
            .json(self.staging_dir)
            .writeStream.outputMode("append")
            .option("checkpointLocation", self.checkpoint)
            .foreachBatch(self._apply_batch)
        )
        if once:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
            return q
        return writer.trigger(processingTime=self.interval).start()
