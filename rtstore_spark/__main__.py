"""Node launcher — the reference's CLI surface over the Spark engine.

Mirrors ``db3 rollup`` / ``db3 index`` / ``db3 recover`` (command.rs:68-160):

  python -m rtstore_spark rollup --root ./node --port 26619
  python -m rtstore_spark index  --root ./index --source-root ./node
  python -m rtstore_spark recover --root ./fresh --from-dir ./artifacts
  python -m rtstore_spark recover --root ./fresh \
      --arweave-url http://gw:1984 [--tip TX | --evm-url … --contract 0x… ]

``rollup`` starts the full write-side node: one HTTP port serving BOTH
the JSON mirror and the gRPC-Web gateway (service.py routes), a second
port speaking raw gRPC over h2c for the Java/Rust SDKs
(service_h2.py), a block ticker (close the open block every
``--block-interval`` seconds when it holds mutations — the reference's
timer produces no empty blocks), the scheduled rollup policy
(``maybe_rollup`` driven by the SystemStore config), optional permaweb
upload (``--arweave-url``) with optional on-chain registration
(``--evm-url --contract``), and optional log GC after each rollup.

``index`` starts the read-side replica: IndexerTail catch-up + polling
over a shared-filesystem origin root, serving queries on its own port.

``recover`` cold-starts a fresh store from rollup artifacts — a local
directory, or a permaweb chain tip (given directly or read from the
MetaStore contract like the reference's recovery).
"""

from __future__ import annotations

import argparse
import threading
import time


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="rtstore_spark")
    sub = p.add_subparsers(dest="command", required=True)

    r = sub.add_parser("rollup", help="start the data rollup node")
    r.add_argument("--root", default="./node", help="warehouse root")
    r.add_argument("--host", default="127.0.0.1")
    r.add_argument("--port", type=int, default=26619,
                   help="JSON + gRPC-Web port")
    r.add_argument("--h2-port", type=int, default=26620,
                   help="raw gRPC (h2c) port; -1 disables")
    r.add_argument("--block-interval", type=float, default=2.0,
                   help="seconds between block-close ticks (reference "
                        "default 2000 ms)")
    r.add_argument("--admin-addr",
                   default="0x0000000000000000000000000000000000000000")
    r.add_argument("--network", type=int, default=1)
    r.add_argument("--key-root", default=None,
                   help="wallet dir (default <root>/keys)")
    r.add_argument("--arweave-url", default=None,
                   help="permaweb gateway; enables rollup upload")
    r.add_argument("--evm-url", default=None,
                   help="eth JSON-RPC; enables on-chain registration")
    r.add_argument("--contract", default=None, help="DB3MetaStore address")
    r.add_argument("--evm-key", default=None,
                   help="hex private key for registrations")
    r.add_argument("--gc", action="store_true",
                   help="GC the rolled log range after each rollup")
    r.add_argument("--min-gc-offset", type=int, default=0)
    r.add_argument("--min-rollup-size", type=int, default=None,
                   help="override the SystemStore rollup size trigger")
    r.add_argument("--rollup-max-interval-ms", type=int, default=None,
                   help="override the SystemStore rollup time trigger")

    i = sub.add_parser("index", help="start the data index node")
    i.add_argument("--root", default="./index")
    i.add_argument("--source-root", required=True,
                   help="the rollup node's warehouse root (shared fs)")
    i.add_argument("--host", default="127.0.0.1")
    i.add_argument("--port", type=int, default=26639)
    i.add_argument("--h2-port", type=int, default=26640)
    i.add_argument("--poll-interval", type=float, default=2.0)
    i.add_argument("--admin-addr",
                   default="0x0000000000000000000000000000000000000000")

    c = sub.add_parser("recover", help="cold-start a store from rollups")
    c.add_argument("--root", required=True, help="fresh warehouse root")
    c.add_argument("--from-dir", default=None,
                   help="local rollup-artifact directory")
    c.add_argument("--arweave-url", default=None)
    c.add_argument("--tip", default=None, help="permaweb chain tip tx")
    c.add_argument("--evm-url", default=None,
                   help="read the tip from the MetaStore contract")
    c.add_argument("--contract", default=None)
    c.add_argument("--network", type=int, default=1)
    c.add_argument("--key-root", default=None)
    c.add_argument("--dest", default=None,
                   help="download dir (default <root>/_permaweb/chain)")

    k = sub.add_parser(
        "console",
        help="client console against a running node (reference: db3 console)",
    )
    k.add_argument("--url", default="http://127.0.0.1:26619",
                   help="node JSON-front base url")
    k.add_argument("--keystore", default=None,
                   help="key file (default ~/.rtstore_spark/key.json)")
    k.add_argument("cmd", nargs="*", help="one-shot command; empty = REPL")
    return p


def _spark():
    from rtstore_spark.engine import get_spark

    return get_spark()


def _permaweb(args, root: str):
    import os

    from rtstore_spark.sources.permaweb import ArPermaweb

    return ArPermaweb(args.arweave_url,
                      args.key_root or os.path.join(root, "keys"))


def run_rollup(args) -> None:
    from rtstore_spark.service import NodeServer, NodeService
    from rtstore_spark.service_h2 import GrpcH2Server
    from rtstore_spark.sources.rollup import RollupExecutor
    from rtstore_spark.store.docstore import DocStore
    from rtstore_spark.store.ingest import Ingest
    from rtstore_spark.system import SystemStore

    spark = _spark()
    store = DocStore(spark, args.root, network=args.network)
    system = SystemStore(spark, args.root, admin_addr=args.admin_addr)
    executor = RollupExecutor(spark, args.root)
    node = NodeService(store, Ingest(store), system=system, rollup=executor)
    http = NodeServer(node, host=args.host, port=args.port).start()
    h2 = None
    if args.h2_port >= 0:
        h2 = GrpcH2Server(node, host=args.host, port=args.h2_port).start()

    uploader = None
    if args.arweave_url:
        from rtstore_spark.sources.permaweb import PermawebUploader

        meta = None
        if args.evm_url and args.contract:
            if not args.evm_key:
                raise SystemExit(
                    "rollup: --evm-key is required for on-chain "
                    "registration (--evm-url/--contract)"
                )
            from rtstore_spark.sources.meta_store_client import MetaStoreClient

            meta = MetaStoreClient(args.evm_url, args.contract,
                                   int(args.evm_key, 16))
        uploader = PermawebUploader(executor, _permaweb(args, args.root),
                                    network=args.network, meta_store=meta)

    print(f"rollup node up: json+grpcweb :{http.port}"
          + (f", grpc/h2c :{h2.port}" if h2 else "")
          + f", root {args.root}", flush=True)

    stop = threading.Event()

    def rollup_config() -> dict:
        cfg = dict(system.config() or {})
        if args.min_rollup_size is not None:
            cfg["min_rollup_size"] = args.min_rollup_size
        if args.rollup_max_interval_ms is not None:
            cfg["rollup_max_interval"] = args.rollup_max_interval_ms
        return cfg

    def _unrolled_blocks_exist() -> bool:
        # one startup probe: any closed block beyond the last rollup?
        from pyspark.sql import functions as F

        last = executor.last_rollup()
        start = (last["end_block"] + 1) if last else 0
        return bool(
            store.mutation_log()
            .filter((F.col("block") >= start)
                    & (F.col("block") < store.state.block))
            .limit(1).count()
        )

    def tick_loop():
        # idle ticks are FREE: the rollup-policy check (config read +
        # manifest read + pending-size aggregate — several Spark jobs)
        # runs only while closed-but-unrolled blocks EXIST (maybe_rollup
        # can defer them on its time trigger, so the flag clears only
        # when a rollup actually lands — not on a not-yet-due None), and
        # the uploader only runs while rounds are known-unshipped (set
        # again on failure so a transient gateway outage retries next
        # tick, not next round)
        policy_due = _unrolled_blocks_exist()  # startup catch-up
        upload_due = uploader is not None
        while not stop.is_set():
            try:
                if store.state.order > 0:  # open block holds mutations
                    # the reference's timer tick; every 16th block also
                    # folds the small files the online writes left
                    store.close_block()
                    policy_due = True
                if policy_due:
                    row = executor.maybe_rollup(
                        store.mutation_log(), config=rollup_config(),
                        network=args.network, open_block=store.state.block,
                    )
                    if row is not None:
                        policy_due = False  # everything closed is rolled
                        print(f"rollup: blocks {row['start_block']}.."
                              f"{row['end_block']}, {row['rows']} rows",
                              flush=True)
                        upload_due = uploader is not None
                        if args.gc:
                            executor.gc(store,
                                        min_gc_offset=args.min_gc_offset)
                if upload_due:
                    try:
                        for rec in uploader.upload_pending():
                            print(f"permaweb: {rec['ar_tx_id']}"
                                  + (f" evm {rec['evm_tx']}"
                                     if rec.get("evm_tx") else ""),
                                  flush=True)
                        upload_due = False
                    except Exception as e:  # noqa: BLE001 — retry next tick
                        print(f"permaweb upload error (will retry): {e}",
                              flush=True)
            except Exception as e:  # noqa: BLE001 — the loop must survive
                print(f"tick error: {e}", flush=True)
                policy_due = True  # re-check once the fault clears
            stop.wait(args.block_interval)

    t = threading.Thread(target=tick_loop, name="rtstore-block-ticker",
                         daemon=True)
    t.start()
    try:
        while True:
            time.sleep(3600)
    except KeyboardInterrupt:
        pass
    finally:
        stop.set()
        t.join(timeout=10)
        http.stop()
        if h2:
            h2.stop()


def run_index(args) -> None:
    from rtstore_spark.service import NodeServer, NodeService
    from rtstore_spark.service_h2 import GrpcH2Server
    from rtstore_spark.store.docstore import DocStore
    from rtstore_spark.streaming.blocks import IndexerTail

    spark = _spark()
    origin = DocStore(spark, args.source_root)
    replica = DocStore(spark, args.root)  # replayed addresses are ADOPTED
                                          # from the log; network moot here
    tail = IndexerTail(spark, origin, replica)
    node = NodeService(replica)
    http = NodeServer(node, host=args.host, port=args.port).start()
    h2 = None
    if args.h2_port >= 0:
        h2 = GrpcH2Server(node, host=args.host, port=args.h2_port).start()
    print(f"index node up: :{http.port}"
          + (f", grpc/h2c :{h2.port}" if h2 else "")
          + f", tailing {args.source_root}", flush=True)
    try:
        while True:
            try:
                tail.run_once()  # availableNow catch-up, checkpointed
            except Exception as e:  # noqa: BLE001 — transient origin-fs
                # races (GC'd bucket mid-listing) retry next poll; the
                # checkpoint makes the rerun exactly-once
                print(f"tail error (will retry): {e}", flush=True)
            time.sleep(args.poll_interval)
    except KeyboardInterrupt:
        pass
    finally:
        http.stop()
        if h2:
            h2.stop()


def run_recover(args) -> None:
    from rtstore_spark.store.docstore import DocStore

    spark = _spark()
    store = DocStore(spark, args.root)
    if args.from_dir:
        src = args.from_dir
    elif args.arweave_url:
        import os

        from rtstore_spark.sources.permaweb import recover_permaweb_chain

        ar = _permaweb(args, args.root)
        tip = args.tip
        if not tip and args.evm_url and args.contract:
            from rtstore_spark.sources.meta_store_client import MetaStoreClient

            # read-only: any key works for eth_call; use a throwaway
            meta = MetaStoreClient(args.evm_url, args.contract, 1)
            tip = meta.get_latest_arweave_tx(args.network)
        if not tip:
            raise SystemExit("recover: no chain tip (--tip or --evm-url)")
        src = args.dest or os.path.join(args.root, "_permaweb", "chain")
        files = recover_permaweb_chain(ar, tip, src)
        print(f"downloaded {len(files)} artifact(s)", flush=True)
    else:
        raise SystemExit("recover: need --from-dir or --arweave-url")

    from rtstore_spark.sources.rollup import RollupExecutor, replay_rollup_frame

    # schema-normalized read (the reference's Arrow writer declares
    # UNSIGNED block/order — an explicit long/int schema aborts on it;
    # load_rollup_file reads with inference and casts), then the
    # format-probed replay: native JSON envelopes AND reference wire
    # chains both route correctly (mixed chains raise)
    df = RollupExecutor.load_rollup_file(
        spark, src, recursive=True
    ).orderBy("block", "order")
    n = replay_rollup_frame(store, df)
    print(f"replayed {n} mutations into {args.root}", flush=True)


def run_console(args) -> None:
    from rtstore_spark.console import (
        KEYSTORE_DEFAULT,
        Console,
        ConsoleError,
        repl,
        run_command,
    )

    console = Console(args.url, args.keystore or KEYSTORE_DEFAULT)
    if args.cmd:
        try:
            print(run_command(console, args.cmd), flush=True)
        except ConsoleError as e:
            raise SystemExit(f"error: {e}") from None
    else:
        repl(console)


def main(argv=None) -> None:
    args = _parser().parse_args(argv)
    {"rollup": run_rollup, "index": run_index,
     "recover": run_recover, "console": run_console}[args.command](args)


if __name__ == "__main__":
    main()
