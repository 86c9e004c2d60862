"""Scale smoke: measure the pipeline operators on synthetic corpora well
beyond the driver SFs, to check the SCALE.md claims with numbers instead
of asymptotics ("measure, don't guess").

Generates documents/embeddings parquet (same schemas as the driver
corpus) at several row counts under /tmp/roar_scale/n{N}/ and times each
operator end-to-end (full collect). Near-linear wall-clock growth across
the sizes is the pass signal for the sub-quadratic paths; the quadratic-
by-definition ops (sim_cosine_pairs) are capped at the smaller sizes.

Usage:
    python tools/scale_smoke.py [--sizes 5000,20000,80000] [--ops op1,op2]

Manual tool, not part of pytest — a full run is minutes of wall-clock.
Results from this box are recorded in SCALE.md §measured.

At 4M+ docs, run heavy ops ONE PER INVOCATION (fresh session each):
shuffle files accumulate in the session's block-manager dir until the
driver GCs the shuffle objects, and a multi-op 4M sweep has filled the
disk mid-op (39 GB of retained shuffle from three earlier ops killed
dedup_embedding_lsh with SPILL_OUT_OF_MEMORY/no-space — r6). On a real
cluster the external shuffle service ages these out; in one local JVM
the only reliable reclaim is process exit.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/tmp/roar_scale"
VOCAB = [f"w{i}" for i in range(2000)]
DOC_TOKENS = 60
NEAR_DUP_FRAC = 0.005
EMB_DIM = 64

# ops timed at every size vs. ops with quadratic output/work by definition
LINEAR_OPS = [
    "dedup_exact",
    "dedup_dataset",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "text_gopher_quality",
    "text_stats",
    "sim_brute_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "embedding_quantize",
    "embedding_label_centroids",
    "text_chunk",
    "dataset_shuffle",
    "sample_temperature",
    "dedup_embedding_lsh@0.9",
    "text_tfidf",
    "embedding_knn_classify",
    "sample_topk_per_stratum",
    "corpus_mix_report",
    "multimodal_features",
]
QUADRATIC_OPS = ["sim_cosine_pairs"]
QUADRATIC_CAP = 20_000


def _dedup_embedding_lsh_tight(spark, d):
    """LSH path forced on, tight threshold — the regime the LSH candidate
    stage exists for (wide-angle thresholds are better served by the exact
    block screen; see similarity.py module comment). Measures the
    sub-quadratic candidate pipeline end-to-end."""
    from roar_spark.operators.similarity import dedup_embedding_lsh

    return dedup_embedding_lsh(spark, d, threshold=0.9, force_lsh=True)


# named ops not in the registry (parameterized variants)
def _knn_bulk(spark, d):
    from roar_spark.operators.similarity import embedding_knn_classify_bulk

    return embedding_knn_classify_bulk(spark, d)


EXTRA_OPS = {
    "dedup_embedding_lsh@0.9": _dedup_embedding_lsh_tight,
    "embedding_knn_classify_bulk": _knn_bulk,
}

# Ops that read ONLY the embeddings table: at 16M+ these run against the
# chunked embeddings-only corpus (tools/gen_embeddings.py → n{N}emb/),
# because gen_corpus's in-driver text generation doesn't reach those sizes.
EMB_ONLY_OPS = {
    "sim_brute_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "embedding_quantize",
    "embedding_label_centroids",
    "embedding_knn_classify",
    "embedding_knn_classify_bulk",
    "dedup_embedding_lsh@0.9",
    "sim_cosine_pairs",
}


def gen_corpus(n: int) -> str:
    """Deterministic synthetic corpus: zipf-ish token draws, 0.5% planted
    near-dups (one token changed), N(0,1) embeddings with planted
    neighbors for the ANN ops."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = f"{BASE}/n{n}"
    # cache validity = a meta stamp written AFTER a complete generation
    # with the current knobs; a bare exists-check on one file reused
    # interrupted/truncated writes and corpora built with older constants
    meta = {
        "n": n, "vocab": len(VOCAB), "doc_tokens": DOC_TOKENS,
        "near_dup_frac": NEAR_DUP_FRAC, "dim": EMB_DIM,
    }
    meta_path = f"{out}/_meta.json"
    import json as _json

    if os.path.exists(meta_path):
        try:
            if _json.load(open(meta_path)) == meta:
                return out
        except Exception:  # noqa: BLE001 — corrupt stamp → regenerate
            pass
    import shutil as _shutil

    _shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    rng = random.Random(42)
    weights = [1.0 / (i + 10) for i in range(len(VOCAB))]
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_DUP_FRAC:
            toks = texts[rng.randrange(i)].split(" ")
            toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choices(VOCAB, weights=weights, k=DOC_TOKENS)))
    langs = [rng.choices(["en", "es", "de", "fr", "zh"], [6, 1, 1, 1, 1])[0] for _ in range(n)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(langs),
                "source": pa.array([f"src{i % 20}" for i in range(n)]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        f"{out}/documents.parquet",
    )
    nprng = np.random.default_rng(42)
    emb = nprng.standard_normal((n, EMB_DIM)).astype("float32")
    for i in range(0, min(n - 1, 200), 20):  # planted near neighbors
        # n-1 bound: i+1 must exist (n=21 etc. crashed with IndexError)
        emb[i + 1] = emb[i] + 0.05 * nprng.standard_normal(EMB_DIM).astype("float32")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array([v.tolist() for v in emb], pa.list_(pa.float32())),
                "label": pa.array([i % 10 for i in range(n)], pa.int32()),
            }
        ),
        f"{out}/embeddings.parquet",
    )
    with open(meta_path, "w") as fh:
        _json.dump(meta, fh)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="5000,20000,80000")
    ap.add_argument("--ops", default=None)
    ap.add_argument(
        "--reps",
        type=int,
        default=2,
        help="samples per (op, size); best-of-N is reported. 1 for the "
        "multi-hundred-second 4M+ runs where a repeat costs more than the "
        "noise it removes",
    )
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="K=V",
        help="extra Spark conf for the probe session (deployment-level "
        "knobs a cluster operator would set, e.g. "
        "spark.io.compression.codec=zstd to trade shuffle CPU for the "
        "~1.5x better ratio that fits a 16M run on this box's disk)",
    )
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]
    ops = args.ops.split(",") if args.ops else LINEAR_OPS + QUADRATIC_OPS

    from roar_spark.registry import QUERIES
    from roar_spark.session import get_spark, warm_python_workers

    bad = [kv for kv in args.conf if "=" not in kv]
    if bad:
        ap.error(f"--conf expects K=V, got: {', '.join(bad)}")
    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark(app_name="roar_scale_smoke", extra_conf=extra or None)
    warm_python_workers(spark)

    def _resolve(n: int) -> str:
        # prefer a pre-built embeddings-only corpus when every requested op
        # can run on it — the full gen_corpus is driver-bound above ~4M
        emb_dir = f"{BASE}/n{n}emb"
        if all(op in EMB_ONLY_OPS for op in ops) and os.path.exists(
            f"{emb_dir}/_meta.json"
        ):
            return emb_dir
        return gen_corpus(n)

    dirs = {n: _resolve(n) for n in sizes}
    print(f"{'op':28s}" + "".join(f"{f'n={n}':>14s}" for n in sizes))
    digest = hashlib.md5()
    for op in ops:
        row = []
        for n in sizes:
            if op in QUADRATIC_OPS and n > QUADRATIC_CAP:
                row.append("capped")
                continue
            # best-of-2: this box suffers multi-second host-steal bursts
            # (measured 6.6 s vs 34.7 s for the SAME cached count minutes
            # apart), and a single sample regularly attributes a burst to
            # whichever op it lands on — best-of-N measures plan cost
            fn = EXTRA_OPS.get(op) or QUERIES[op]
            best = None
            for _ in range(args.reps):
                t0 = time.perf_counter()
                res = fn(spark, dirs[n]).collect()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            row.append(f"{best:.1f}s/{len(res)}r")
            digest.update(f"{op}:{n}:{len(res)}".encode())
        print(f"{op:28s}" + "".join(f"{c:>14s}" for c in row))
    print(f"result-shape digest: {digest.hexdigest()[:12]}")


if __name__ == "__main__":
    main()
