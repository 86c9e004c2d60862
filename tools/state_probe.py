"""RocksDB state-store sizing probe for the keyed recent-buffer
(``streaming.stateful.recent_buffer``; SCALE.md: state growth at many keys).

recent_buffer (applyInPandasWithState) keeps one state row per key: the
kept ``seqs array<bigint>`` and ``vals array<double>``, at most ``cap``
entries each. This probe feeds N distinct keys × ``rows_per_key`` events
(rows_per_key > cap so eviction engages — the production pattern), runs
the query to completion against the RocksDB provider, and reports:

- ``numRowsTotal`` / ``stateOnCurrentVersionSizeBytes`` style metrics from
  the query's last progress ``stateOperators`` entry (RocksDB custom
  metrics: SST file size, total memory usage, pinned/readers memory);
- the on-disk size of the checkpoint's ``state/`` directory (what a
  cluster pays in DFS storage for fault tolerance);
- bytes/key for both, which is the number that extrapolates to 10^8 keys.

Usage:
    python tools/state_probe.py [--keys 100000] [--rows-per-key 8] [--cap 5]

Manual tool (minutes of wall-clock at 1M keys); results recorded in
SCALE.md. Run one key-count per invocation for clean disk accounting.
The work dir is removed and the Spark session stopped when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", type=int, default=100_000)
    ap.add_argument("--rows-per-key", type=int, default=8)
    ap.add_argument("--cap", type=int, default=5)
    ap.add_argument("--work-dir", default="/tmp/roar_state_probe")
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="K=V",
        help="extra Spark conf (e.g. spark.sql.streaming.stateStore."
        "rocksdb.changelogCheckpointing.enabled=true — the cluster posture "
        "that replaces per-commit full-snapshot zips with changelogs)",
    )
    args = ap.parse_args()

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from roar_spark.session import get_spark, warm_python_workers
    from roar_spark.streaming.stateful import recent_buffer

    work = args.work_dir
    shutil.rmtree(work, ignore_errors=True)
    src = f"{work}/src"
    ckpt = f"{work}/ckpt"
    os.makedirs(src, exist_ok=True)
    spark = None
    try:
        # source: rows_per_key events per key, seq ascending so the final kept
        # window is deterministic; chunked files keep driver memory flat
        n, rpk = args.keys, args.rows_per_key
        chunk_keys = max(1, min(n, 2_000_000 // rpk))
        for start in range(0, n, chunk_keys):
            ck = min(chunk_keys, n - start)
            keys = np.repeat(np.arange(start, start + ck, dtype=np.int64), rpk)
            seqs = np.tile(np.arange(rpk, dtype=np.int64), ck)
            vals = (seqs + keys % 97).astype("float64")
            pq.write_table(
                pa.table(
                    {
                        "user_id": pa.array(keys),
                        "kafka_offset": pa.array(seqs),
                        "value": pa.array(vals),
                    }
                ),
                f"{src}/part-{start // chunk_keys:05d}.parquet",
            )

        extra = dict(kv.split("=", 1) for kv in args.conf)
        spark = get_spark(app_name="roar_state_probe", extra_conf=extra or None)
        warm_python_workers(spark)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )

        stream = (
            spark.readStream.schema("user_id bigint, kafka_offset bigint, value double")
            .parquet(src)
        )
        out = recent_buffer(stream, cap=args.cap)
        t0 = time.perf_counter()
        q = (
            out.writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        progress = q.recentProgress[-1] if q.recentProgress else None
        state_ops = (progress or {}).get("stateOperators") or []
        metrics = state_ops[0] if state_ops else {}
        ckpt_state_bytes = _dir_bytes(f"{ckpt}/state")

        report = {
            "keys": n,
            "rows_per_key": rpk,
            "cap": args.cap,
            "conf": extra,
            "wall_s": round(wall, 1),
            "numRowsTotal": metrics.get("numRowsTotal"),
            "stateBytes": metrics.get("stateOnCurrentVersionSizeBytes"),
            "custom": {
                k: v
                for k, v in (metrics.get("customMetrics") or {}).items()
                if "SstFileSize" in k or "TotalMemUsage" in k or "CommitLatency" in k
                or "ZipFile" in k
            },
            "checkpoint_state_bytes": ckpt_state_bytes,
            "checkpoint_bytes_per_key": round(ckpt_state_bytes / n, 1),
        }
        sst = (metrics.get("customMetrics") or {}).get("rocksdbSstFileSize")
        if sst:
            report["sst_bytes_per_key"] = round(sst / n, 1)
        print(json.dumps(report))
    finally:
        # the work dir (source parquet + checkpoint) is only scratch for
        # this run: the report above is the result
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
