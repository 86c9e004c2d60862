"""Sharded vs simple Flight-source replication throughput (SCALE.md).

Upstream engine serves a 1M-row topic over TWO facades on the same store:
an unsharded one (the simple reader's surface) and an N-shard one (the
partitioned reader's surface). Downstream engines replicate through each
source into a ParquetStore (executor writes — no driver collect on the
sink side), interleaved best-of-K so box noise can't pick the winner.

Usage: python tools/flight_bench.py [rows] [shards] [reps]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    shards = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from pyspark.sql import functions as F

    from roar_spark.session import get_spark

    # local[$SPARK_GRAFT_CPUS], driver memory sized to the host
    spark = get_spark(
        app_name="flight_bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    from roar_spark.config import EngineConfig
    from roar_spark.sources.flight import ingest_from_flight
    from roar_spark.streaming.flight_facade import serve_in_thread
    from roar_spark.streaming.manager import StreamEngine

    # upstream: 1M typed rows appended in 4 store batches (realistic
    # multi-batch buffer), 3 payload fields + the 4 kafka metadata columns
    up = StreamEngine(spark, EngineConfig(buffer_limit_bytes=1 << 34))
    import json

    up.register_stream("big", [json.dumps({"n": 1, "name": "x", "v": 1.5})])
    per = rows // 4
    for b in range(4):
        envelope = (
            spark.range(b * per, (b + 1) * per)
            .select(
                F.col("id").cast("string").alias("key"),
                F.to_json(
                    F.struct(
                        F.col("id").alias("n"),
                        F.concat(F.lit("name-"), F.col("id")).alias("name"),
                        (F.col("id") * 1.5).alias("v"),
                    )
                ).alias("value"),
                F.lit("2026-08-13T10:00:00Z").cast("timestamp").alias("timestamp"),
                F.col("id").alias("offset"),
                F.lit(0).cast("int").alias("partition"),
            )
        )
        up.append_batch("big", envelope)
    snap = up.fetch("big", -1)
    want_n = snap.agg(F.sum("n")).first()[0]
    print(f"upstream ready: {rows} rows, sum(n)={want_n}", flush=True)

    simple_srv = serve_in_thread(up, shards=1)
    sharded_srv = serve_in_thread(up, shards=shards)
    loc_simple = f"grpc://localhost:{simple_srv.port}"
    loc_sharded = f"grpc://localhost:{sharded_srv.port}"

    def replicate(location: str, **opts) -> float:
        with tempfile.TemporaryDirectory() as tdir:
            down = StreamEngine(
                spark,
                EngineConfig(
                    flush_interval_seconds=1,
                    buffer_limit_bytes=1 << 34,
                    checkpoint_path=f"{tdir}/ckpt",
                ),
                store_base=f"{tdir}/store",  # executor parquet writes
            )
            h = ingest_from_flight(down, "replica", location, remote_topic="big", **opts)
            t0 = time.time()
            h.query.processAllAvailable()
            dt = time.time() - t0
            got = down.fetch("replica", -1).agg(F.sum("n"), F.count("*")).first()
            assert got[1] == rows and got[0] == want_n, f"parity: {got}"
            h.query.stop()
            down.stop()
            return dt

    results: dict[str, list[float]] = {"simple": [], f"sharded x{shards}": []}
    for rep in range(reps):  # interleaved A/B (bench methodology memory)
        results["simple"].append(replicate(loc_simple))
        results[f"sharded x{shards}"].append(replicate(loc_sharded, sharded="true"))
        print(
            f"rep {rep}: simple {results['simple'][-1]:.1f}s, "
            f"sharded {results[f'sharded x{shards}'][-1]:.1f}s",
            flush=True,
        )
    for name, ts in results.items():
        best = min(ts)
        print(
            f"{name}: best {best:.1f}s ({rows / best / 1000:.0f}k rows/s), "
            f"all {[round(t, 1) for t in ts]}",
            flush=True,
        )
    simple_srv.shutdown()
    sharded_srv.shutdown()
    up.stop()


if __name__ == "__main__":
    main()
