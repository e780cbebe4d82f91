"""Write-path throughput: N signed mutations applied as ONE streaming block.

Measures the set-wise BatchApplier (store/batch_apply.py) — the scale answer
to the reference's per-mutation loop (storage_node_light_impl.rs:613-698).
Reports mutations/sec and the Spark job count for the block; job count must
stay O(collections touched), independent of N.

Usage: python tools/bench_ingest.py [N_MUTATIONS=5000] [N_COLLECTIONS=4]
Prints one JSON line.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    n_cols = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    from rtstore_spark.engine import get_spark
    from rtstore_spark.store.docstore import DocStore
    from rtstore_spark.store.ingest import Ingest, digest_signature
    from rtstore_spark.streaming.ingest_stream import StreamingIngest

    spark = get_spark("bench_ingest")
    root = tempfile.mkdtemp(prefix="bench_ingest_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    store = DocStore(spark, os.path.join(root, "w"))
    ingest = Ingest(store)
    sender = "0x" + "ab" * 20

    # setup outside the measured window: one db, n_cols collections
    db = store.create_database(sender, nonce=1)
    for i in range(n_cols):
        store.create_collection(db, f"c{i}", [], sender)
    store.state.next_block()

    staging = os.path.join(root, "staging")
    si = StreamingIngest(spark, ingest, staging)
    nonce = 1
    lines = []
    for i in range(n):
        nonce += 1
        payload = {
            "action": "add_document", "db_addr": db,
            "col_name": f"c{i % n_cols}",
            "body": {"docs": [json.dumps({"k": i, "pad": "x" * 64})]},
        }
        body = json.dumps(payload, sort_keys=True)
        lines.append(json.dumps({
            "payload": body,
            "signature": digest_signature(body, nonce, sender),
            "sender": sender, "nonce": nonce,
        }))
    with open(os.path.join(staging, "block.jsonl"), "w") as f:
        f.write("\n".join(lines))

    def job_counter() -> int:
        # DAGScheduler's monotonic job id — counts every scheduled job,
        # including the streaming query's own group
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    jobs_before = job_counter()
    t0 = time.time()
    si.start(once=True)
    wall = time.time() - t0
    jobs_after = job_counter()

    applied = store.current_state(db, "c0").count() * n_cols  # uniform spread
    from tools.bench_session import session_info

    print(json.dumps({
        "metric": "ingest_mutations_per_sec",
        "value": round(n / wall, 1),
        "unit": "mut/s",
        **session_info(),
        "mutations": n,
        "collections": n_cols,
        "wall_sec": round(wall, 2),
        "spark_jobs_for_block": jobs_after - jobs_before,
        "applied_docs": applied,
        "rejected": len(si.rejected),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
