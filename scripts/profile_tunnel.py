"""Per-phase profile of the tunnel/daemon floors (VERDICT r12 item 8):
q38_tunnel_formats and q40_receiver_daemon. Confirms the codec stages are
JVM-side (no BatchEvalPython/ArrowEvalPython except the DECLARED Arrow
sender boundary) and attributes the wall to phases."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mongoshake_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    import threading

    from pyspark.sql import functions as F

    from mongoshake_spark.plans.queries._shared import _stream_tmpdir
    from mongoshake_spark.sources.oplog import oplog_view
    from mongoshake_spark.sources.tables import load_table
    from mongoshake_spark.sources.tunnel import (
        decode_ext_frames,
        decode_raw_frames,
        encode_frames,
    )

    spark = get_spark("tunnel-profile")
    ov = oplog_view(load_table(spark, SF_DIR, "events"))
    ov.count()

    print("== q38_tunnel_formats phases (as shipped: checkpointed frames) ==")
    for rep in range(2):
        t0 = time.time()
        ext_frames = encode_frames(
            ov, message="canonical_extended_json"
        ).localCheckpoint()
        t1 = time.time()
        raw_frames = encode_frames(ov, message="raw").localCheckpoint()
        t2 = time.time()
        ext = decode_ext_frames(ext_frames).withColumn(
            "fmt", F.lit("canonical_extended_json")
        )
        raw, _ = decode_raw_frames(raw_frames)
        raw = raw.withColumn("fmt", F.lit("raw"))
        both = ext.select("fmt", "op", "id", "value").unionByName(
            raw.select("fmt", "op", "id", "value")
        )
        both.groupBy("fmt", "op").agg(
            F.count("*"), F.sum("id"), F.round(F.sum("value"), 2)
        ).orderBy("fmt", "op").write.format("noop").mode("overwrite").save()
        t3 = time.time()
        print(
            f"  rep{rep}: encode+ckpt ext {t1-t0:5.2f}s  raw {t2-t1:5.2f}s  "
            f"decode+agg both {t3-t2:5.2f}s  total {t3-t0:5.2f}s"
        )

    print("== q40_receiver_daemon phases ==")
    from mongoshake_spark.sources import socket_tunnel as st
    from mongoshake_spark.streaming.receive import run_receiver

    for rep in range(2):
        tmp = _stream_tmpdir("q40prof_")
        port_ready = threading.Event()
        box: dict = {}
        t_bind = time.time()

        def _serve():
            box["summary"] = run_receiver(
                spark,
                f"{tmp}/target",
                idle_timeout=0.5,
                max_wall=120,
                poll=0.05,
                batch_rows=1_000_000,
                on_ready=lambda p: (box.__setitem__("port", p), port_ready.set()),
            )

        th = threading.Thread(target=_serve, daemon=True)
        th.start()
        port_ready.wait(30)
        t0 = time.time()
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            st.write_socket_tunnel(ov, "127.0.0.1", box["port"], batch_size=4096)
            t1 = time.time()
            th.join(120)
            t2 = time.time()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        n = (
            spark.read.parquet(f"{tmp}/target")
            .filter(F.col("op") != "d")
            .count()
        )
        t3 = time.time()
        print(
            f"  rep{rep}: bind {t0-t_bind:4.2f}s  socket send (Arrow sender, "
            f"live TCP) {t1-t0:5.2f}s  receiver fold+flush {t2-t1:5.2f}s  "
            f"target read {t3-t2:4.2f}s  rows={n}"
        )
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
