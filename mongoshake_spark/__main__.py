"""Executable surface — ``python -m mongoshake_spark``.

The reference ships as a conf-driven binary (``collector.linux -conf
conf/collector.conf``); this module is that surface for the Spark engine:
it reads the SAME ``key = value`` conf dialect with the SAME key names
(conf/collector.conf: ``sync_mode``, ``tunnel``, ``filter.namespace.*``,
``oplog.gids``, ``filter.ddl_enable``, ``incr_sync.*``,
``checkpoint.interval``), validates through config.SyncConfig (M5), and
dispatches to the three entry points (SURVEY §3) plus the post-sync
verifier:

    python -m mongoshake_spark --conf my.conf \
        --source-dir /data/sf0.01 --target-dir /out \
        [--feed-dir /feed --checkpoint-dir /ckpt]

Engine-specific paths (where the parquet source/feed/target live) have no
reference analog — the reference's are Mongo URIs — so they are CLI
flags, not conf keys. Everything the conf can express maps 1:1.
"""

from __future__ import annotations

import argparse
import json
import sys

from mongoshake_spark.config import ConfigError, SyncConfig

#: conf key -> (SyncConfig field, parser)
_CONF_KEYS = {
    "sync_mode": ("sync_mode", str),
    "incr_sync.shard_key": ("shard_key", str),
    "incr_sync.worker": ("workers", int),
    "incr_sync.adaptive.batching_max_size": ("batch_rows", int),
    "incr_sync.target_delay": ("target_delay_sec", int),
    "checkpoint.interval": ("checkpoint_interval_ms", int),
    "filter.ddl_enable": ("ddl_enable", lambda v: v.lower() == "true"),
    "filter.namespace.white": ("ns_whitelist", lambda v: tuple(x for x in v.split(";") if x)),
    "filter.namespace.black": ("ns_blacklist", lambda v: tuple(x for x in v.split(";") if x)),
    "oplog.gids": ("gids", lambda v: tuple(x for x in v.split(";") if x)),
}

#: recognized but engine-mapped elsewhere (tunnel routing, not SyncConfig)
_TUNNEL_KEYS = ("tunnel", "tunnel.address", "tunnel.message", "tunnel.json.format")

#: the reference's REST monitoring ports (conf/collector.conf:30-34);
#: incr_sync.http_port starts streaming/metrics.MetricsServer for the run
_HTTP_KEYS = ("incr_sync.http_port", "full_sync.http_port", "system_profile_port")


def parse_conf(path: str) -> tuple[SyncConfig, dict]:
    """Parse the reference's conf dialect: ``key = value`` lines, ``#``
    comments, blank lines ignored. Unknown keys are collected (and
    reported) rather than failing — the reference tolerates extra keys in
    its conf template, and most of its knobs (queue depths, serializer
    threads) intentionally have no Spark analog."""
    fields: dict = {}
    tunnel: dict = {}
    http: dict = {}
    unknown: list[str] = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            key, _, value = line.partition("=")
            key, value = key.strip(), value.strip()
            if key in _CONF_KEYS:
                name, conv = _CONF_KEYS[key]
                fields[name] = conv(value)
            elif key in _TUNNEL_KEYS:
                tunnel[key] = value
            elif key in _HTTP_KEYS:
                if value:  # blank = disabled, like every other blank key
                    try:
                        http[key] = int(value)
                    except ValueError as e:
                        raise ConfigError(f"{key} must be an integer port: {e}")
            elif value:
                unknown.append(key)
    cfg = SyncConfig(**fields).validate()
    return cfg, {"tunnel": tunnel, "http": http, "unknown": unknown}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="mongoshake_spark", description=__doc__)
    p.add_argument("--conf", help="reference-dialect conf file (key = value)")
    p.add_argument("--source-dir", help="parquet source dir (the fixture layout)")
    p.add_argument("--target-dir", help="target root for full/incr state")
    p.add_argument("--feed-dir", help="replayable oplog feed dir (incr/all)")
    p.add_argument("--checkpoint-dir", help="stream checkpoint location (incr/all)")
    p.add_argument("--sync-mode",
                   choices=("full", "incr", "all", "verify", "repair",
                            "receive"),
                   help="override the conf's sync_mode; 'verify' runs the "
                        "post-sync check, 'repair' applies plans written "
                        "by verify --repair-dir to the target, 'receive' "
                        "runs the standalone receiver daemon (cmd/receiver "
                        "analog): drain a live TCP tunnel into the apply "
                        "kernel at TARGET_DIR")
    p.add_argument("--receive-listen", metavar="HOST:PORT",
                   default="127.0.0.1:0",
                   help="receive mode: bind address (port 0 = ephemeral; "
                        "the bound port is announced on the first stdout "
                        "line)")
    p.add_argument("--receive-idle-timeout", type=float, default=10.0,
                   help="receive mode: exit after this many idle seconds "
                        "once at least one log was consumed (the bounded "
                        "daemon contract; the reference receiver runs "
                        "until killed)")
    p.add_argument("--receive-max-wall", type=float, default=300.0,
                   help="receive mode: unconditional wall-clock bound")
    p.add_argument("--multi-ns", action="store_true",
                   help="incr: replicate every namespace into ONE table "
                        "at TARGET_DIR keyed and bucketed on (ns, user_id) "
                        "(the reference's whole-deployment replication "
                        "shape) instead of folding all rows on user_id "
                        "alone; a TARGET_DIR in the old per-namespace "
                        "layout is refused (start from a fresh checkpoint "
                        "and target)")
    p.add_argument("--resume", action="store_true",
                   help="full sync: skip namespaces with completion markers")
    p.add_argument("--verify-table", default="customer",
                   help="verify mode: table under both roots to compare, "
                        "or 'all' for every known table (per-table keys; "
                        "keyless lineitem verifies as a content MULTISET)")
    p.add_argument("--verify-key", default=None,
                   help="verify mode: key column override; when omitted, "
                        "known tables use their own key (content-multiset "
                        "for keyless lineitem) and unknown tables default "
                        "to c_custkey")
    p.add_argument("--verify-sample", metavar="NUM/DEN",
                   help="verify mode: deterministic sample cut, e.g. 1/100 "
                        "(the comparisonMode=sample analog, but reproducible)")
    p.add_argument("--verify-attribute", action="store_true",
                   help="verify mode: name the diverged COLUMNS on each "
                        "'differs' row (per-column signatures, computed "
                        "only on bucket-pruned rows)")
    p.add_argument("--repair-dir", metavar="PATH",
                   help="verify mode: write the minimal healing op-set "
                        "(i/u/d + source payload) per diverged table as "
                        "parquet under PATH (refused with --verify-sample: "
                        "a sampled diff cannot produce a complete repair)")
    p.add_argument("--dry-run", action="store_true",
                   help="parse + validate + print the plan, run nothing")
    p.add_argument("--stat", metavar="HOST:PORT",
                   help="poll a running sync's monitoring port "
                        "(incr_sync.http_port) and print per-interval "
                        "throughput deltas — the scripts/mongoshake-stat "
                        "analog; exits after --stat-count polls")
    p.add_argument("--stat-interval", type=float, default=1.0,
                   help="seconds between --stat polls (default 1)")
    p.add_argument("--stat-count", type=int, default=None,
                   help="number of --stat polls (default: until ^C)")
    p.add_argument("--filestat", metavar="DUMP",
                   help="inspect a reference-format file-tunnel dump "
                        "(scripts/filestat analog): header, log count, "
                        "per-shard histogram as JSON")
    p.add_argument("--compact-index", metavar="STORE_DIR",
                   help="persisted-index maintenance (streaming/"
                        "index_lifecycle): rewrite the store as a "
                        "replay-deduplicated new generation behind the "
                        "atomic CURRENT pointer and prune superseded "
                        "payloads; prints the compaction stats as JSON")
    p.add_argument("--index-kind", choices=("band", "ann"), default="band",
                   help="store layout for --compact-index: 'band' "
                        "(MinHash/perceptual band rows, full-row dedup) "
                        "or 'ann' (IVF-PQ model + codes, dedup by id)")
    p.add_argument("--index-retention", metavar="SQL_EXPR", default=None,
                   help="optional retention predicate applied during "
                        "compaction, e.g. 'doc_id >= 1000000'")
    p.add_argument("--retrain-corpus", metavar="PARQUET_DIR", default=None,
                   help="with --compact-index --index-kind ann: re-train "
                        "the IVF-PQ model over this vector corpus and cut "
                        "over to a fresh model+codes generation instead "
                        "of compacting (restart ingest streams after)")
    p.add_argument("--index-generations", metavar="STORE_DIR",
                   help="print the store's generation dashboard "
                        "(generation, is_current, n_files, n_bytes) as "
                        "JSON and exit")
    args = p.parse_args(argv)

    if args.filestat:
        from mongoshake_spark.sources.file_dump import dump_stats

        try:
            print(json.dumps(dump_stats(args.filestat)))
        except (OSError, ValueError) as e:
            print(f"filestat error: {e}", file=sys.stderr)
            return 2
        return 0

    if args.index_generations:
        from mongoshake_spark.session import get_spark
        from mongoshake_spark.streaming.index_lifecycle import index_generations

        rows = index_generations(
            get_spark("index-maintenance"), args.index_generations
        ).collect()
        print(json.dumps([r.asDict() for r in rows]))
        return 0

    if args.compact_index:
        from mongoshake_spark.session import get_spark
        from mongoshake_spark.streaming import index_lifecycle as _lc

        if args.retrain_corpus and args.index_kind != "ann":
            print(
                "conf error: --retrain-corpus applies only to "
                "--index-kind ann (band indexes are model-free)",
                file=sys.stderr,
            )
            return 2
        spark = get_spark("index-maintenance")
        try:
            if args.retrain_corpus:
                stats = _lc.retrain_ann_store(
                    spark, args.compact_index,
                    spark.read.parquet(args.retrain_corpus),
                )
            elif args.index_kind == "ann":
                stats = _lc.compact_ann_store(
                    spark, args.compact_index, retention=args.index_retention
                )
            else:
                stats = _lc.compact_band_index(
                    spark, args.compact_index, retention=args.index_retention
                )
        except ValueError as e:
            print(f"compact error: {e}", file=sys.stderr)
            return 2
        print(json.dumps(stats))
        return 0

    if args.stat:
        from mongoshake_spark.streaming.metrics import stat_poll

        url = args.stat if "://" in args.stat else f"http://{args.stat}"
        try:
            stat_poll(url, interval=args.stat_interval, count=args.stat_count)
        except KeyboardInterrupt:
            pass
        except OSError as e:
            print(f"stat error: {e}", file=sys.stderr)
            return 2
        return 0

    try:
        cfg, extra = parse_conf(args.conf) if args.conf else (SyncConfig().validate(), {"tunnel": {}, "http": {}, "unknown": []})
    except (ConfigError, OSError) as e:
        print(f"conf error: {e}", file=sys.stderr)
        return 2
    mode = args.sync_mode or cfg.sync_mode
    if args.multi_ns and mode != "incr":
        # silently ignoring the flag would be the same misdelivery class
        # the mirror+multi combination refuses: the user asked for
        # per-namespace targets and would get one table with exit 0
        print(
            f"conf error: --multi-ns applies only to --sync-mode incr "
            f"(got {mode!r})",
            file=sys.stderr,
        )
        return 2

    # tunnel.message / tunnel.json.format validation (the reference
    # crashes on unknown values, kafka_writer.go:155) and codec
    # resolution: json + tunnel.json.format=canonical_extended_json is
    # spelled as one encode_frames(message=...) codec here
    tmsg = extra["tunnel"].get("tunnel.message", "json")
    tjf = extra["tunnel"].get("tunnel.json.format", "")
    if tmsg not in ("json", "raw", "bson"):
        print(f"conf error: unknown tunnel.message {tmsg!r}", file=sys.stderr)
        return 2
    if tjf not in ("", "canonical_extended_json"):
        print(f"conf error: unknown tunnel.json.format {tjf!r}", file=sys.stderr)
        return 2
    if tmsg == "bson":
        # raw BSON bytes need a BSON codec on the executors; the wire
        # formats this engine serializes natively are json/ext-json/raw
        print(
            "conf error: tunnel.message = bson is not supported — use "
            "raw (TMessage framing) or json [canonical_extended_json]",
            file=sys.stderr,
        )
        return 2
    message_codec = (
        "raw" if tmsg == "raw"
        else ("canonical_extended_json" if tjf else "json")
    )

    plan = {
        "mode": mode,
        "tunnel_message_codec": message_codec,
        "config": {k: (list(v) if isinstance(v, tuple) else v) for k, v in vars(cfg).items()},
        "tunnel": extra["tunnel"],
        "http": extra.get("http", {}),
        "ignored_conf_keys": extra["unknown"],
        "source_dir": args.source_dir,
        "target_dir": args.target_dir,
        "feed_dir": args.feed_dir,
        "checkpoint_dir": args.checkpoint_dir,
    }
    if args.dry_run:
        print(json.dumps(plan, indent=1))
        return 0

    if mode == "repair":
        # the plan is self-describing (op, key, payloads) — no source dir
        missing = [n for n in ("target_dir", "repair_dir") if not getattr(args, n)]
    elif mode == "receive":
        # the tunnel is the source; only the apply target is needed
        missing = [] if args.target_dir else ["target_dir"]
    elif mode == "incr" and extra["tunnel"].get("tunnel") == "tcp":
        # collector side of a tcp tunnel ships the feed, applies nothing:
        # no local source/target dirs (the receiver owns the target)
        missing = []
    else:
        missing = [n for n in ("source_dir", "target_dir") if not getattr(args, n)]
    if mode in ("incr", "all"):
        missing += [n for n in ("feed_dir", "checkpoint_dir") if not getattr(args, n)]
    if missing:
        print(f"missing required flags for mode {mode}: {missing}", file=sys.stderr)
        return 2

    from mongoshake_spark.session import get_spark

    sample_num = None
    sample_den = 1
    if mode == "verify" and args.verify_sample is not None:
        # strict NUM/DEN validation BEFORE any Spark work: 'a/b' must exit
        # 2 with a message (not a traceback), and num=0 / den=0 must be
        # rejected — '0/100' would silently verify NOTHING and report
        # in_sync, '1/0' would silently verify everything under a claimed
        # cut
        import re as _re

        m = _re.fullmatch(r"(\d+)(?:/(\d+))?", args.verify_sample)
        sample_num, sample_den = (
            (int(m.group(1)), int(m.group(2) or 1)) if m else (0, 0)
        )
        if sample_num < 1 or sample_den < 1:
            print(
                f"conf error: --verify-sample must be NUM/DEN with "
                f"NUM>=1 and DEN>=1, got {args.verify_sample!r}",
                file=sys.stderr,
            )
            return 2

    spark = get_spark("mongoshake_spark.cli")
    if mode == "receive":
        # cmd/receiver analog: serve the wire protocol, fold every
        # received frame into the apply kernel, announce the bound port
        # FIRST (flushed) so a supervising collector can connect
        from mongoshake_spark.streaming.receive import run_receiver

        host, _, port_s = args.receive_listen.partition(":")
        try:
            listen_port = int(port_s or 0)
        except ValueError:
            print(
                f"conf error: --receive-listen must be HOST:PORT, got "
                f"{args.receive_listen!r}",
                file=sys.stderr,
            )
            return 2
        summary = run_receiver(
            spark,
            args.target_dir,
            host=host or "127.0.0.1",
            port=listen_port,
            idle_timeout=args.receive_idle_timeout,
            max_wall=args.receive_max_wall,
            on_ready=lambda p: print(
                json.dumps({"mode": mode, "listening": p}), flush=True
            ),
        )
        print(json.dumps({"mode": mode, **summary}))
        return 0
    if mode == "full":
        from mongoshake_spark.plans.full_sync import full_sync

        report = full_sync(spark, args.source_dir, args.target_dir, resume=args.resume)
        print(json.dumps({"mode": mode, "tables": report.tables, "rows": report.total_rows}))
    elif mode == "incr":
        from mongoshake_spark.streaming.apply import run_incr_sync

        # tunnel = direct with a mongodb:// address mirrors each committed
        # batch's net ops into the live target (S7 production form,
        # executor/db_writer.go:49-59). The address carries the namespace
        # as its path: mongodb://host[:port]/db.coll — the kernel syncs
        # ONE logical table, so the ns is fixed per run (per-ns fanout is
        # the DBTransform operator's job upstream).
        mirror = None
        t = extra["tunnel"]
        if t.get("tunnel") == "tcp":
            # collector side of the collector/receiver split: with a
            # non-direct tunnel the reference collector SHIPS the oplog
            # and applies nothing locally (tunnel/tcp_writer.go) — the
            # standalone receiver (--sync-mode receive) owns the apply.
            addr = str(t.get("tunnel.address") or "")
            thost, _, tport = addr.partition(":")
            if not thost or not tport.isdigit():
                print(
                    "conf error: tunnel = tcp needs tunnel.address = "
                    f"host:port, got {addr!r}",
                    file=sys.stderr,
                )
                return 2
            if not args.feed_dir or not args.checkpoint_dir:
                print(
                    "missing required flags for mode incr (tunnel=tcp): "
                    "['feed_dir', 'checkpoint_dir']",
                    file=sys.stderr,
                )
                return 2
            from mongoshake_spark.sources.socket_tunnel import (
                write_socket_tunnel,
            )
            from mongoshake_spark.streaming.apply import drain_feed

            shipped = {"batches": 0, "rows": 0}

            def ship(batch, _bid, _h=thost, _p=int(tport)):
                shipped["rows"] += batch.count()
                write_socket_tunnel(batch, _h, _p)
                shipped["batches"] += 1

            drain_feed(
                spark, args.feed_dir, ship, args.checkpoint_dir,
                cfg.files_per_trigger,
            )
            print(json.dumps({"mode": mode, "tunnel": "tcp", **shipped}))
            return 0
        if t.get("tunnel") == "direct" and t.get("tunnel.address"):
            addr = str(t["tunnel.address"])
            # a configured live target that cannot be wired must fail
            # LOUDLY — silently skipping it would sync to parquet only
            # and never deliver a single op to the target the operator
            # configured (no address at all = the engine's default
            # parquet-target mode, which IS silent by design)
            if not addr.startswith("mongodb://"):
                print(
                    "conf error: tunnel.address for tunnel=direct must "
                    f"be a mongodb:// URI, got {addr!r}",
                    file=sys.stderr,
                )
                return 2
            from mongoshake_spark.sources.live import mongo_ops_mirror
            # mongodb://[user:pw@]host[:port]/db.coll[?options] — the path
            # names the target namespace; client options (authSource etc.)
            # must SURVIVE onto the client URI, not leak into the coll name
            host, _, path = addr[len("mongodb://"):].partition("/")
            ns, _, opts = path.partition("?")
            base = "mongodb://" + host + "/" + (("?" + opts) if opts else "")
            if "." not in ns:
                print(
                    "conf error: tunnel.address for tunnel=direct must "
                    "carry a /db.coll namespace path (options may follow "
                    f"after '?'), got {addr!r}",
                    file=sys.stderr,
                )
                return 2
            db, _, coll = ns.partition(".")
            try:
                mirror = mongo_ops_mirror(base, db, coll)
            except RuntimeError as e:  # pymongo absent: fail at wiring
                print(f"conf error: {e}", file=sys.stderr)
                return 2
        elif t.get("tunnel") == "file":
            # S9 via the CLI: net ops appended as tunnel frames under
            # tunnel.address with the resolved tunnel.message codec
            # (tunnel/file_writer.go); a missing address is as loud as
            # direct's bad URI — the operator asked for a file tunnel
            if not t.get("tunnel.address"):
                print(
                    "conf error: tunnel = file needs tunnel.address = "
                    "<output dir> for the frame files",
                    file=sys.stderr,
                )
                return 2
            from mongoshake_spark.sources.tunnel import file_tunnel_mirror

            mirror = file_tunnel_mirror(
                str(t["tunnel.address"]), message=message_codec
            )
        # incr_sync.http_port serves /repl /worker /progress for the run
        # (collector.conf:31; syncer.go:640-734)
        listener = server = None
        port = extra.get("http", {}).get("incr_sync.http_port")
        if port is not None:  # 0 = OS-assigned is valid
            from mongoshake_spark.streaming import metrics as metrics_mod

            listener = metrics_mod.attach(spark)
            try:
                server = metrics_mod.serve(listener, port=port)
            except OSError as e:  # port bound/privileged: fail as conf, not traceback
                spark.streams.removeListener(listener)
                print(
                    f"conf error: incr_sync.http_port = {port} "
                    f"could not bind: {e}",
                    file=sys.stderr,
                )
                return 2
        try:
            if args.multi_ns:
                if mirror is not None:
                    # the mirror would bulk_write every namespace into
                    # the ONE configured collection — wrong target for
                    # every ns but the named one; per-ns mirror routing
                    # is not wired, so refuse rather than misdeliver
                    print(
                        "conf error: --multi-ns cannot be combined with a "
                        "tunnel=direct live mirror (the mirror targets one "
                        "db.coll; per-namespace routing is not wired)",
                        file=sys.stderr,
                    )
                    return 2
                from mongoshake_spark.streaming.multi import run_multi_incr_sync

                kernel = run_multi_incr_sync(
                    spark, args.feed_dir, args.target_dir, args.checkpoint_dir,
                    max_files_per_trigger=cfg.files_per_trigger,
                )
                state = kernel.state_view()
                out = {
                    "mode": mode,
                    "namespaces": sorted(
                        r["ns"] for r in state.select("ns").distinct().collect()
                    ) if state is not None else [],
                    "ddl_applied": len(kernel.ddl_log),
                }
            else:
                kernel = run_incr_sync(
                    spark, args.feed_dir, args.target_dir, args.checkpoint_dir,
                    max_files_per_trigger=cfg.files_per_trigger,
                    mirror=mirror,
                )
                out = {"mode": mode, "ddl_applied": len(kernel.ddl_log)}
            if listener is not None:
                # listener events are delivered async on the bus: wait
                # (bounded) until the batch count stabilizes before the
                # final snapshot, or the last batch's rows under-report
                import time as _time

                deadline = _time.monotonic() + 10.0
                prev = -1
                while _time.monotonic() < deadline:
                    cur = (listener.metrics.batches, listener.metrics.rows_in)
                    if cur == prev and cur[0] > 0:
                        break
                    prev = cur
                    _time.sleep(0.2)
                out["metrics"] = listener.metrics.snapshot()
        finally:
            if server is not None:
                server.close()
            if listener is not None:
                spark.streams.removeListener(listener)
        print(json.dumps(out))
    elif mode == "all":
        from mongoshake_spark.plans.full_sync import sync_all

        out = sync_all(
            spark, args.source_dir, args.feed_dir, args.target_dir + "/snapshot",
            args.target_dir + "/stream", args.checkpoint_dir,
        )
        print(json.dumps({"mode": mode, **out}))
    elif mode == "repair":
        import os

        from pyspark.sql import functions as F

        from mongoshake_spark.plans.full_sync import _marker_fs, _marker_read
        from mongoshake_spark.plans.repair import (
            apply_multiset_repair,
            apply_repair,
        )

        # the manifest scopes repair to ONE verify run's plans (a stale
        # plan dir from an earlier run must never regress current data);
        # Hadoop-FS reads, so hdfs://s3a:// plan roots work like the
        # verify side that wrote them
        manifest = _marker_read(
            spark, os.path.join(args.repair_dir, "_manifest.json")
        )
        if manifest is None or not manifest.get("tables"):
            print(
                f"conf error: no repair manifest under {args.repair_dir!r} "
                f"— run verify --repair-dir first (an unmanifested plan "
                f"directory is not applied)",
                file=sys.stderr,
            )
            return 2
        report = {}
        for table in manifest["tables"]:
            plan_path = os.path.join(args.repair_dir, table)
            ops = spark.read.parquet(plan_path)
            key = ops.columns[1]  # plans are self-describing: (op, key, ...)
            tdir = f"{args.target_dir}/{table}"
            fs, tpath = _marker_fs(spark, tdir)
            multiset = key == "_vkey" and "_mult" in ops.columns
            if fs.exists(tpath):
                target = spark.read.parquet(tdir)
            else:
                # table absent from the target: the plan recreates it
                content = [
                    c for c in ops.columns
                    if c not in ("op", "_vkey", "_mult")
                ] if multiset else list(ops.columns[1:])
                target = ops.select(*content).limit(0)
            if multiset:
                healed = apply_multiset_repair(target, ops)
            else:
                healed = apply_repair(target, ops, key)
            # localCheckpoint detaches lineage from the files being
            # overwritten (the read-then-overwrite-same-path pattern)
            healed.localCheckpoint(eager=True).write.mode("overwrite").parquet(tdir)
            report[table] = {
                "ops_applied": ops.count(),
                "rows_after": spark.read.parquet(tdir).count(),
            }
        print(json.dumps({"mode": mode, "tables": report}))
        return 0
    else:  # verify
        import os

        from pyspark.sql import functions as F

        from mongoshake_spark.plans.verify import verify_sync

        #: per-table verification keys. MULTISET marks a table with NO
        #: unique key (the synthetic lineitem is not even unique on
        #: (l_orderkey, l_linenumber) — up to 5 copies per pair): it is
        #: verified at content granularity — group by the FULL row,
        #: compare (content-hash -> multiplicity) — which is the only
        #: sound diff model for a keyless multiset (any pseudo-key would
        #: cross-pair duplicates and fabricate diffs).
        MULTISET = "__multiset__"
        _VERIFY_KEYS = {
            "region": "r_regionkey", "nation": "n_nationkey",
            "customer": "c_custkey", "supplier": "s_suppkey",
            "part": "p_partkey", "orders": "o_orderkey",
            "lineitem": MULTISET,
            "events": "event_id", "documents": "doc_id",
            "embeddings": "vec_id",
        }

        # Hadoop FS, not os.path: verify roots can be hdfs://s3a://
        # like every other plane — reuse full_sync's helper so FS
        # bootstrap fixes land in one place
        from mongoshake_spark.plans.full_sync import _marker_fs

        def _hfs(path_str: str):
            return _marker_fs(spark, path_str)

        def _path(root: str, table: str):
            d = f"{root}/{table}"
            fs, p = _hfs(d)
            # accept both layouts: fixture single file and synced directory
            return d if fs.isDirectory(p) else d + ".parquet"

        def _exists(root: str, table: str) -> bool:
            d = f"{root}/{table}"
            fs, p = _hfs(d)
            return fs.isDirectory(p) or fs.exists(
                spark._jvm.org.apache.hadoop.fs.Path(d + ".parquet")
            )

        if args.repair_dir and sample_num is not None:
            print(
                "conf error: --repair-dir cannot be combined with "
                "--verify-sample — a sampled diff cannot produce a "
                "complete repair plan",
                file=sys.stderr,
            )
            return 2

        from mongoshake_spark.plans.repair import multiset_form
        from mongoshake_spark.sources.tables import read_parquet

        def _verify_one(table: str, key) -> dict:
            # the source reads as full sync read it (nanos -> micros); the
            # target is the engine's own output
            src = read_parquet(spark, _path(args.source_dir, table))
            dst = spark.read.parquet(_path(args.target_dir, table))
            if key == MULTISET:
                # canonicalize the column ORDER through the source's: the
                # content rendering is name-sorted inside multiset_form,
                # and this keeps schema comparison order-insensitive too
                dst = multiset_form(dst.select(*src.columns))
                src = multiset_form(src)
                key = "_vkey"
            names = [c for c in src.columns if c != key]
            sig_cols = [F.col(c).cast("string") for c in names]
            diffs_df = verify_sync(
                src, dst, key, sig_cols,
                sample_num=sample_num, sample_den=sample_den,
                attribute_columns=args.verify_attribute, sig_col_names=names,
            )
            # The diff stays a DataFrame end-to-end: for a heavily
            # diverged table it is O(|table|), so collecting it makes
            # driver memory the bound. persist + count materializes it
            # ONCE on the executors (MEMORY_AND_DISK spills rather than
            # evicts, so neither the count, the 100-row report, nor the
            # repair plan recomputes the two-phase verify); the driver
            # only ever holds the count and the first 100 rows, and the
            # blocks are RELEASED at the end of this call — a
            # --verify-table all run over many diverged tables must not
            # accumulate one pinned diff per table for the session's life
            # (localCheckpoint blocks would only free on GC).
            diffs_df = diffs_df.persist()
            n_diffs = diffs_df.count()
            head = diffs_df.limit(100).collect()
            def _row(r):
                out = {"key": r[0], "status": r[1]}
                if args.verify_attribute and r[2] is not None:
                    out["diff_cols"] = list(r[2])
                return out
            res = {
                "in_sync": n_diffs == 0,
                "n_diffs": n_diffs,  # full count — 'diffs' shows 100
                "diffs": [_row(r) for r in head],
            }
            if args.repair_dir and n_diffs:
                from mongoshake_spark.plans.repair import repair_ops

                plan_path = os.path.join(args.repair_dir, table)
                # reuse the persisted diff directly — repairing must
                # not re-run the two-phase verification, and multiset
                # plans carry the content columns + _mult as the payload
                # so apply can rebuild the exact multiplicity
                plan = repair_ops(src, dst, key, sig_cols, diffs=diffs_df)
                plan.write.mode("overwrite").parquet(plan_path)
                res["repair_plan"] = plan_path
                plans_written.append(table)
            diffs_df.unpersist()  # every consumer above has materialized
            return res

        def _full_insert_plan(table: str, key) -> None:
            """Plan recreating a table MISSING from the target: every
            source row (or content group) as an 'i' op."""
            src = read_parquet(spark, _path(args.source_dir, table))
            if key == MULTISET:
                g = multiset_form(src)
                payloads = [c for c in g.columns if c != "_vkey"]
                plan = g.select(F.lit("i").alias("op"), "_vkey", *payloads)
            else:
                payloads = [c for c in src.columns if c != key]
                plan = src.select(F.lit("i").alias("op"), F.col(key), *payloads)
            plan.write.mode("overwrite").parquet(
                os.path.join(args.repair_dir, table)
            )
            plans_written.append(table)

        def _write_manifest() -> None:
            """The plan set is ONE verify run's output: the manifest names
            exactly the tables this run planned, and the repair arm
            applies only manifest entries — a stale plan directory from an
            earlier run can never silently regress a now-current table."""
            from mongoshake_spark.plans.full_sync import _marker_write

            _marker_write(
                spark,
                os.path.join(args.repair_dir, "_manifest.json"),
                {"tables": sorted(plans_written)},
            )

        plans_written: list = []
        if args.verify_table == "all":
            # every known table present on the SOURCE side must verify; a
            # table missing on the target side is itself a divergence
            report, ok = {}, True
            for table, key in _VERIFY_KEYS.items():
                if not _exists(args.source_dir, table):
                    continue
                if not _exists(args.target_dir, table):
                    report[table] = {"in_sync": False, "missing_table": True}
                    if args.repair_dir:
                        # a dropped table is repairable too: plan a full
                        # recreation from the source
                        _full_insert_plan(table, key)
                        report[table]["repair_plan"] = os.path.join(
                            args.repair_dir, table
                        )
                    ok = False
                    continue
                res = _verify_one(table, key)
                report[table] = res
                ok = ok and res["in_sync"]
            if not report:
                # nothing compared must NOT report in_sync — an empty
                # report means the source root has no known table (typo'd
                # path), and a verifier's one forbidden failure mode is a
                # silent pass over work it never did
                print(
                    f"conf error: no known table found under "
                    f"{args.source_dir!r} — nothing was verified",
                    file=sys.stderr,
                )
                return 2
            if args.repair_dir:
                _write_manifest()
            print(json.dumps({"mode": mode, "in_sync": ok, "tables": report}))
            return 0 if ok else 1
        # explicit --verify-key overrides; otherwise known tables use
        # their own key and unknown tables fall back to c_custkey
        key = args.verify_key if args.verify_key is not None else \
            _VERIFY_KEYS.get(args.verify_table, "c_custkey")
        out = _verify_one(args.verify_table, key)
        if args.repair_dir:
            _write_manifest()
        print(json.dumps({"mode": mode, **out}))
        return 0 if out["in_sync"] else 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
