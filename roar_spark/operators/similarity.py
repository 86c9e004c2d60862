"""Similarity search over the ``embeddings`` table (array<float> column).

Two paths, per the standard ANN playbook:
- ``sim_brute_topk`` — exact cosine top-k for a bounded query set. The
  pair stage is query-set × corpus: with a small query set this is a
  broadcast join (corpus streams once, no shuffle of the big side) — the
  correct baseline at any corpus size as long as |queries| is bounded.
- ``sim_cosine_pairs`` — all-pairs above a threshold (embedding near-dup).
  Quadratic by definition; kept for corpus-scale near-dup at this SF.
- ``ann_lsh_topk`` — the scale path: random-hyperplane (sign) LSH buckets
  from md5-derived pseudo-random projections; candidates only within a
  bucket. Sub-quadratic: shuffle keys are bucket ids. Approximate by
  design → no SQL oracle (driver records rows-only).

All dot products are the ordered double fold from functions/vector.py, so
cosines are bit-identical to the DuckDB oracle's list_reduce fold and
equality/threshold comparisons match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from roar_spark.catalog import load_table
from roar_spark.functions.vector import cosine, norm

N_QUERIES = 10
TOP_K = 5

# Bounded cache for the persisted bucket-id tables: the returned plans are
# lazy, so an operator cannot unpersist its own cache before the caller
# consumes it — releasing the PREVIOUS invocation's cache on entry bounds
# the leak to one table per call site across sweep-length sessions (same
# contract as text.py's _TF_CACHE).
import threading

_WB_CACHE: list = []
_WB_CACHE_LOCK = threading.Lock()


def _persist_bounded(df: "DataFrame") -> "DataFrame":
    from roar_spark.caching import drain_scoped, register_scoped

    # drain the previous invocation's entry BEFORE persisting: a repeated
    # identical plan would otherwise adopt the live entry and the
    # register below would unpersist it out from under this invocation
    # (caching.drain_scoped documents the measured failure)
    drain_scoped(_WB_CACHE, _WB_CACHE_LOCK)
    register_scoped(_WB_CACHE, _WB_CACHE_LOCK, [df.persist()])
    return df


# Row floor for the embeddings consumers' spread opt-in (catalog.load_table):
# their per-row first-stage work is one hash/fold — light enough that the
# spread exchange LOSES below tens of thousands of rows (measured:
# sim_brute_topk 0.73 s → 1.06 s at the 2 k-row sf0.1 table) and wins big
# once the single-task stage dominates (80.8 s → 5.5 s at 1 M rows). 20 k
# sits above every driver SF and below the smallest size where the
# single-task cost is visible in SCALE.md's tables (sim_brute_topk 1.8 s
# at 20 k, 6.5 s at 80 k).
SPREAD_MIN_EMB_ROWS = 20_000


def _with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn("nrm", norm(F.col("embedding")))


def _unit_rows(m):
    """Row-normalize a 2-D float array for the matmul screens. Zero-norm
    rows divide to NaN (warnings suppressed — degenerate vectors are a
    handled case, not an error). The exact stages give such vectors a
    NULL cosine (functions/vector.py), i.e. they are never neighbors; the
    screens mirror that: in the threshold screens `NaN >= t` is already
    False (numpy), and the top-k screen maps NaN to -2.0 BEFORE
    np.partition — NaN sorts as largest there, so >= k NaN entries in a
    bucket row would otherwise make the k-th statistic NaN, every
    comparison False, and ALL of the bucket's candidates silently drop
    (r5 review finding, pinned by the zero-norm test)."""
    import numpy as np

    with np.errstate(invalid="ignore", divide="ignore"):
        return m / np.linalg.norm(m, axis=1, keepdims=True)


def _topk_per_query(scored: DataFrame, k: int, rank_col: str) -> DataFrame:
    """Exact per-query top-k by (cos DESC, vec_id ASC) — the salted
    two-phase rank (operators/ranks.py): with ~10 query keys, Catalyst's
    map-side WindowGroupLimit already bounds each query's final sort to
    scan_partitions·k rows; the salt tightens it to a constant 64·k
    (SCALE.md r7 — the 16M wall itself was the scoring fold, fixed by
    _matmul_brute_scores, not this window). Callers still project NARROW
    rows first: the rank shuffles carry every column."""
    from roar_spark.operators.ranks import salted_topk

    return salted_topk(
        scored, ["query_id"], [F.desc("cos"), F.asc("vec_id")], k, rank_col, "vec_id"
    )


def _collect_query_rows(emb: DataFrame):
    """The N_QUERIES query rows (vec_id, embedding, label) — the one
    constant-size driver-side collect the matmul brute path makes."""
    return (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding", "label")
        .collect()
    )


def _matmul_brute_scores(emb: DataFrame, k: int, qrows=None) -> DataFrame:
    """Arrow-batched brute scorer for the broadcast-query operators at
    scale: the N_QUERIES query vectors ride the task closure (constant
    ~5 KB), each corpus batch scores against all of them in ONE BLAS
    matmul, and only each query's per-batch top-k survives — so the
    kernel's output is ≤ batches·|queries|·k narrow rows regardless of
    corpus size. Replaces the interpreted per-pair expression fold, which
    the 16M run measured fold-bound at ~200 s (SCALE.md r7) — the same
    expression-fold-vs-BLAS gap _bucket_ids documents at 12×.

    Scores are float64 matmul cosines (the final Spark-side round(·, 6)
    then matches the exact fold except on rounding-boundary hits — same
    documented caveat as the bulk screen rerank). The per-batch cut
    orders by (np-rounded cos desc, vec_id asc) — the FINAL sort key —
    so the union over any batching provably contains the global top-k
    and the result is partitioning-independent; np.round is half-even vs
    Spark's half-up, divergent only on exact-midpoint doubles (measure
    zero for computed cosines). Zero-norm rows (NaN) are never neighbors
    and zero-norm queries match nothing, mirroring the exact path's NULL
    cosine. The driver-side collect is the |queries| constant-size side,
    the same precedent as ann_ivf_topk's centroid table; callers that
    also need the query rows (knn's true_label lookup) pass the SAME
    collect in via ``qrows`` so the table is scanned exactly once for
    them (r7 review). A corpus with no vec_id < N_QUERIES yields an
    empty result like the exact arm, not an np.stack crash (r7 review)."""
    import numpy as np
    import pandas as pd

    if qrows is None:
        qrows = _collect_query_rows(emb)
    if not qrows:
        return emb.sparkSession.createDataFrame(
            [], "query_id long, vec_id long, label int, cos double"
        )
    qids = np.array([r.vec_id for r in qrows], dtype="int64")
    qm = _unit_rows(np.stack([np.asarray(r.embedding, dtype="float64") for r in qrows]))

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            m = _unit_rows(np.stack(pdf["embedding"].to_numpy()).astype("float64"))
            ids = pdf["vec_id"].to_numpy()
            lbl = pdf["label"].to_numpy()
            cos = m @ qm.T  # batch × |queries|
            r6 = np.round(cos, 6)
            out = []
            for j in range(len(qids)):
                c = r6[:, j]
                valid = ~np.isnan(c) & (ids != qids[j])
                idx = np.flatnonzero(valid)
                if idx.size == 0:
                    continue
                order = np.lexsort((ids[idx], -c[idx]))[: min(k, idx.size)]
                sel = idx[order]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(sel.size, qids[j]),
                            "vec_id": ids[sel].astype("int64"),
                            "label": lbl[sel].astype("int32"),
                            "cos": cos[sel, j],
                        }
                    )
                )
            if out:
                yield pd.concat(out)

    return emb.select("vec_id", "embedding", "label").mapInPandas(
        score, "query_id long, vec_id long, label int, cos double"
    )


def sim_brute_topk(
    spark: SparkSession, sf_dir: str, force_matmul: bool | None = None
) -> DataFrame:
    """Exact cosine top-5 neighbors for query vectors (vec_id < 10).
    Query side is broadcast; corpus side never shuffles for the join; the
    per-query rank runs as the salted two-phase top-k (_topk_per_query)
    so no task ever sorts the whole corpus. Above the size cutoff the
    scoring itself dispatches to the Arrow matmul kernel
    (_matmul_brute_scores — the exact expression fold is fold-bound at
    ~200 s per 16M×10 pairs); output-equality pinned across the cutoff."""
    from roar_spark.catalog import table_row_count

    matmul = (
        table_row_count("embeddings", sf_dir) > _BULK_EXACT_RERANK_CUTOFF
        if force_matmul is None
        else force_matmul
    )
    emb = _with_norm(load_table(spark, "embeddings", sf_dir, spread=SPREAD_MIN_EMB_ROWS))
    if matmul:
        scored = _matmul_brute_scores(emb, TOP_K).withColumn("cos", F.round("cos", 6))
        # kernel output is ≤ batches·|queries|·k rows — one final window
        # over that residue is already tiny
        w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "rank", F.col("vec_id").alias("neighbor_id"), "cos")
            .orderBy("query_id", "rank")
        )
    q = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    scored = (
        emb.join(q, F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos",
            F.round(cosine(F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")), 6),
        )
    )
    return (
        # NULL cos = zero-norm vector (non-comparable): drop BEFORE
        # ranking so degenerate vectors never occupy a top-k slot; project
        # narrow before the rank shuffle (embeddings stay in the scan)
        _topk_per_query(
            scored.filter(F.col("cos").isNotNull()).select("query_id", "vec_id", "cos"),
            TOP_K,
            "rank",
        )
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("vec_id").alias("neighbor_id"),
            "cos",
        )
        .orderBy("query_id", "rank")
    )


COSINE_THRESHOLD = 0.4
# Per-group memory bound for the block screen: each applyInPandas group
# holds TWO blocks of ≤ TARGET_BLOCK_ROWS vectors plus their cos matrix —
# ≈ 2·2048·dim·8 B input + 2048²·8 B ≈ 35 MB at dim 64, CONSTANT in corpus
# size. Block count grows linearly with n instead (shuffle volume n²/B rows
# — the honest cost of all-pairs; sub-quadratic near-dup is ann_lsh_topk).
TARGET_BLOCK_ROWS = 2048
_MIN_BLOCKS = 8


def n_blocks_for(n_rows: int) -> int:
    """Block count for the all-pairs screen: enough blocks that a block
    never exceeds TARGET_BLOCK_ROWS rows, floor of 8 so small corpora keep
    executor parallelism."""
    import math

    return max(_MIN_BLOCKS, math.ceil(max(n_rows, 1) / TARGET_BLOCK_ROWS))


def _block_screen_pairs(
    spark: SparkSession,
    emb: DataFrame,
    n_blocks: int,
    threshold: float = COSINE_THRESHOLD,
) -> DataFrame:
    """Candidate pairs with cosine ≥ threshold−margin via block-matrix
    multiply: vectors are bucketed into ``n_blocks`` (sized from the corpus
    row count so per-group memory is bounded — see n_blocks_for), every
    block PAIR is one applyInPandas group doing a single numpy matmul, and
    only surviving (id_a, id_b) pairs leave Python.

    This is the scale shape for all-pairs similarity: bounded replication
    (each vector appears in n_blocks groups), a vectorized kernel instead
    of 2M per-pair expression folds, and output proportional to matches,
    not candidates. The screen uses a 1e-6 margin; exact semantics come
    from the recheck stage, so the numpy summation order never leaks into
    results."""
    import numpy as np
    import pandas as pd

    screen_min_single = threshold - 1e-6

    if n_blocks <= _MIN_BLOCKS:
        # Small-corpus fast path: n_blocks floors at _MIN_BLOCKS,
        # i.e. the corpus is ≤ _MIN_BLOCKS·TARGET_BLOCK_ROWS = 16,384
        # vectors. The blocked machinery (two pair-table joins replicating
        # every vector ~n_blocks times, a (blk_a, blk_b) shuffle, 36
        # grouped-Pandas calls) measured 1.5-1.7 s at sf0.1 for what is
        # ONE ~2000² matmul; here the corpus streams into a single task
        # and is screened with the same threshold-with-margin criterion,
        # so the survivor set is identical (exact semantics still come
        # from the recheck stage).
        #
        # The in-task matmul is BLOCKED over query rows:
        # a dense 16384² float64 cosine matrix is ~2.1 GB in one Python
        # worker — near task-memory limits. Strips of
        # _SCREEN_BLOCK_FLOATS // n rows cap the live matrix at ~32 MB
        # (plus the n×dim unit matrix, ≤ 8 MB at dim 64) with an
        # identical survivor set: each row's comparisons depend only on
        # its own matrix row, and the strict-upper-triangle cut is by
        # GLOBAL row position (s + local row < column), exactly
        # triu(k=1) of the full matrix.
        def screen_single(batches):
            ids_l, mat_l = [], []
            for pdf in batches:
                if pdf.empty:
                    continue
                ids_l.append(pdf["vec_id"].to_numpy())
                mat_l.append(np.stack(pdf["embedding"].to_numpy()).astype("float64"))
            if not ids_l:
                return
            ids = np.concatenate(ids_l)
            u = _unit_rows(np.concatenate(mat_l))
            n = len(ids)
            block = max(1, _SCREEN_BLOCK_FLOATS // max(1, n))
            out = []
            for s in range(0, n, block):
                cos = u[s : s + block] @ u.T  # strip × n
                # zero-norm rows: NaN >= screen_min is False — dropped,
                # matching the exact recheck's NULL-cosine rejection
                iq, ip = np.nonzero(cos >= screen_min_single)
                upper = (s + iq) < ip  # strict upper triangle, global rows
                ia, ib = (s + iq)[upper], ip[upper]
                if len(ia) == 0:
                    continue
                lo = np.minimum(ids[ia], ids[ib])
                hi = np.maximum(ids[ia], ids[ib])
                keep = lo < hi  # duplicate vec_ids: never self-pair
                out.append(pd.DataFrame({"vec_id_a": lo[keep], "vec_id_b": hi[keep]}))
            if out:
                yield pd.concat(out, ignore_index=True).drop_duplicates()

        return (
            emb.select("vec_id", "embedding")
            .coalesce(1)
            .mapInPandas(screen_single, "vec_id_a long, vec_id_b long")
        )

    blocked = emb.select("vec_id", "embedding").withColumn(
        "blk", (F.col("vec_id") % n_blocks).cast("int")
    )
    pair_df = F.broadcast(
        spark.createDataFrame(
            [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
            "blk_a int, blk_b int",
        )
    )
    a_side = blocked.join(pair_df, F.col("blk") == F.col("blk_a")).select(
        "blk_a", "blk_b", F.lit(0).alias("side"), "vec_id", "embedding"
    )
    b_side = blocked.join(pair_df, F.col("blk") == F.col("blk_b")).select(
        "blk_a", "blk_b", F.lit(1).alias("side"), "vec_id", "embedding"
    )
    screen_min = threshold - 1e-6

    def screen(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame({"vec_id_a": [], "vec_id_b": []}).astype("int64")
        ma = np.stack(a["embedding"].to_numpy()).astype("float64")
        mb = np.stack(b["embedding"].to_numpy()).astype("float64")
        cos = _unit_rows(ma) @ _unit_rows(mb).T
        # zero-norm rows: NaN >= screen_min is False — dropped, matching
        # the exact recheck's NULL-cosine rejection
        ia, ib = np.nonzero(cos >= screen_min)
        ids_a = a["vec_id"].to_numpy()[ia]
        ids_b = b["vec_id"].to_numpy()[ib]
        # normalize to (min, max): the smaller id may live in EITHER block,
        # so a plain ids_a < ids_b filter would drop cross-block pairs.
        lo = np.minimum(ids_a, ids_b)
        hi = np.maximum(ids_a, ids_b)
        keep = lo < hi
        out = pd.DataFrame({"vec_id_a": lo[keep], "vec_id_b": hi[keep]})
        # same-block groups see each unordered pair twice (both orientations)
        return out.drop_duplicates()

    return (
        a_side.unionAll(b_side)
        .groupBy("blk_a", "blk_b")
        .applyInPandas(screen, "vec_id_a long, vec_id_b long")
    )


def _exact_pair_recheck(emb: DataFrame, candidates: DataFrame, threshold: float) -> DataFrame:
    """Exact ordered-fold cosine over candidate (vec_id_a, vec_id_b) pairs,
    keeping pairs ≥ threshold. Shared by every candidate generator (block
    screen, sign-LSH): whatever produced the candidates, results only ever
    come from the exact fold, so they are bit-identical to naive all-pairs
    (and the DuckDB oracle) ON the candidate set."""
    a = emb.select(
        F.col("vec_id").alias("vec_id_a"), F.col("embedding").alias("emb_a"), F.col("nrm").alias("nrm_a")
    )
    b = emb.select(
        F.col("vec_id").alias("vec_id_b"), F.col("embedding").alias("emb_b"), F.col("nrm").alias("nrm_b")
    )
    return (
        candidates.join(a, "vec_id_a")
        .join(b, "vec_id_b")
        .withColumn(
            "cos", F.round(cosine(F.col("emb_a"), F.col("emb_b"), F.col("nrm_a"), F.col("nrm_b")), 6)
        )
        .filter(F.col("cos") >= threshold)
        .select("vec_id_a", "vec_id_b", "cos")
    )


def _exact_cosine_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = COSINE_THRESHOLD
) -> DataFrame:
    """(vec_id_a < vec_id_b, cos) pairs with exact cosine ≥ threshold.

    Two-phase: numpy block-matmul screen (fast, margin-padded) → exact
    ordered-fold recheck on the few survivors. Results are identical to
    the naive all-pairs fold (and to the DuckDB oracle) because the final
    filter/rounding only ever sees the exact fold values. Block count is
    derived from the corpus row count (parquet footer, no Spark job) so
    per-group memory stays bounded at any scale."""
    from roar_spark.catalog import table_row_count

    emb = _with_norm(load_table(spark, "embeddings", sf_dir))
    survivors = _block_screen_pairs(
        spark, emb, n_blocks_for(table_row_count("embeddings", sf_dir)), threshold
    )
    return _exact_pair_recheck(emb, survivors, threshold)


def sim_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ 0.4, ids + rounded cosine.
    See _exact_cosine_pairs for the screen→exact-recheck design."""
    return _exact_cosine_pairs(spark, sf_dir).orderBy("vec_id_a", "vec_id_b")


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup, keep-first: drop every vector whose
    cosine with some smaller-id vector clears the threshold; emit the
    surviving vec_ids.

    Same screen→exact-recheck pair path as sim_cosine_pairs, then one
    left-anti join of the corpus ids against the pairs' larger side — the
    keep-first rule needs no clustering pass, because any vector with an
    earlier near-dup is dropped regardless of what ITS later dups do
    (standard LSH-dedup semantics, matching dedup_dataset's keep-first).
    The anti-join shuffles only ids; embeddings never leave the screen.
    Threshold 0.4 is calibrated to this synthetic corpus (nothing exceeds
    0.6); the operator is threshold-agnostic."""
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id")
    dups = _exact_cosine_pairs(spark, sf_dir).select(
        F.col("vec_id_b").alias("vec_id")
    )
    return emb.join(dups, "vec_id", "left_anti").orderBy("vec_id")


# --- scale-derived sign-LSH with OR-amplification ---------------------------
#
# Bucket width scales with the corpus: n_planes ≈ log2(n / TARGET_BUCKET_DOCS)
# keeps expected bucket occupancy near TARGET_BUCKET_DOCS at ANY n, so
# candidates per query stay O(probes · TARGET_BUCKET_DOCS) — genuinely
# sub-linear — instead of a fixed 2^4 = 16 buckets that degrade to ~n/16.
# Recall is recovered by OR-amplification (N_TABLES independent hash tables:
# a pair is a candidate if it collides in ANY table) plus Hamming-1
# multi-probe on the query side of each table.

TARGET_BUCKET_DOCS = 32
N_TABLES = 4
_MIN_PLANES = 4
_MAX_PLANES = 24  # 16M buckets; beyond this table count, probes dominate


def n_planes_for(n_rows: int) -> int:
    """Hyperplanes per hash table so that E[bucket size] ≈ TARGET_BUCKET_DOCS."""
    import math

    return min(
        _MAX_PLANES,
        max(_MIN_PLANES, math.ceil(math.log2(max(n_rows, 1) / TARGET_BUCKET_DOCS))),
    )


def _plane_weights(table: int, plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: weight for dimension d is an
    md5 hex digit of f"{table}:{plane}:{d}" mapped to {-7.5 … +7.5}. Pure
    function of (table, plane, d) — reproducible on any driver, no RNG
    state shipped to executors (the weights travel as array literals)."""
    import hashlib

    return [
        int(hashlib.md5(f"{table}:{plane}:{d}".encode()).hexdigest()[d % 28], 16) - 7.5
        for d in range(dim)
    ]


def _bucket_ids(
    emb: DataFrame,
    n_planes: int,
    dim: int,
    n_tables: int = N_TABLES,
    emit_qemb: bool | str = False,
) -> DataFrame:
    """vec_id + one packed sign-LSH bucket id per hash table, computed as a
    single Arrow-batched numpy matmul per input batch: (batch×dim) @
    (dim×(tables·planes)) then sign-bit packing.

    This is the one deliberate Pandas stage in the similarity family: the
    hash is tables·planes dot products PER ROW (48 at n=80k), and
    expressing those as Catalyst higher-order-function folds was measured
    12× slower than brute-force scoring at n=80k (65 s vs a 1.4 s matmul
    kernel) — per-element expression folds are interpreted, a BLAS matmul
    is the intended kernel for dense projections. Weights travel in the
    task closure (tables·planes·dim doubles ≈ 25 KB), batches stream
    through Arrow, and the stage stays linear in n with a constant that
    matches hardware FLOPs.

    With ``emit_qemb=True`` the kernel also emits ``qemb`` — the
    unit-normalized vector quantized to int8 (round(127·v/‖v‖)) — as the
    SCREEN payload for the bucket-grouped matmul pair stage. An int8
    array is ~3.3× smaller on the wire than array<float>, and the
    replicated probe fan-out is exactly what filled the disk at 4M docs
    (r6 scale run). The quantization is screen-only, and the bound must
    cover what the screen actually compares: the RE-NORMALIZED quantized
    vectors (``_unit_rows(q)``), not q/127 itself. Per coordinate the
    rounding error is ≤ 0.5/127, so ε := ‖a − q/127‖ ≤ √dim·(0.5/127)
    for a unit row a. Renormalizing re-inflates that error by at most the
    norm ratio — ‖x/‖x‖ − y/‖y‖‖ ≤ 2‖x−y‖/(‖x‖+‖y‖), so with ‖a‖ = 1 and
    ‖q/127‖ ≥ 1−ε the renormalized error is ≤ 2ε/(2−ε) = ε/(1−ε/2) — and
    cos is 1-Lipschitz in each unit argument, so
    |cos(a,b) − unit(q_a)·unit(q_b)| ≤ 2·ε/(1−ε/2). A screen margin of
    that quantity provably loses no true pair (screen_min in the pair
    stage) and the exact recheck keeps results bit-identical. The r5–r6
    comment bounded only ‖a − q/127‖ and relied implicitly on sphere
    projection contracting the error, which is false for points INSIDE
    the sphere (the radial map expands by 1/‖x‖ there) — the 1/(1−ε/2)
    factor is the honest correction (r6 ADVICE). Zero-norm vectors quantize to
    the zero vector, which the screen drops exactly like the exact path's
    NULL cosine. The flag is opt-in because the other consumers (ANN
    top-k, bulk k-NN, the diagnostic candidate counter) never read qemb
    and should not pay its compute, Arrow transfer, or cache bytes
    (r6 review)."""
    import numpy as np
    import pandas as pd

    w = np.array(
        [_plane_weights(t, p, dim) for t in range(n_tables) for p in range(n_planes)]
    ).T  # dim × (tables·planes)
    shifts = 1 << np.arange(n_planes, dtype=np.int64)
    schema = "vec_id long, " + ", ".join(f"b{t} long" for t in range(n_tables))
    # emit_qemb: False | True/"int8" (array<tinyint>, scale 127 — the dedup
    # screen's payload) | "int16" (array<smallint>, scale 32767 — the bulk-
    # kNN screen's payload, where the screen cosine IS the reported score
    # above the exact-rerank cutoff and int8's ±0.064 proven bound would be
    # visible; int16's is ±2.4e-4 at dim 64, absorbed by a ~5e-4 margin)
    q_scale, q_dtype = (
        (32767.0, "int16") if emit_qemb == "int16" else (127.0, "int8")
    )
    if emit_qemb:
        schema += ", qemb array<" + ("smallint" if emit_qemb == "int16" else "tinyint") + ">"

    def hash_batches(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            bits = (m @ w) > 0
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            for t in range(n_tables):
                out[f"b{t}"] = (bits[:, t * n_planes : (t + 1) * n_planes] * shifts).sum(axis=1)
            res = pd.DataFrame(out)
            if emit_qemb:
                q = np.round(q_scale * _unit_rows(m))
                q = np.nan_to_num(q, nan=0.0).astype(q_dtype)  # zero-norm → 0⃗
                res["qemb"] = list(q)
            yield res

    return emb.select("vec_id", "embedding").mapInPandas(hash_batches, schema)


def _entries_from_buckets(
    with_buckets: DataFrame,
    n_planes: int,
    probe: bool,
    n_tables: int = N_TABLES,
    tables=None,
) -> DataFrame:
    """Explode precomputed per-table bucket ids into (vec_id, tbl, bkt)
    hash-table entries. With ``probe=True`` each row additionally fans out
    to ALL its Hamming-1 probe buckets (the asymmetric query-vs-corpus
    shape: the query side must reach every neighbor). The explode fans out
    only key tuples, never embeddings.

    ``tables`` restricts the emitted entries to a subset of the hash
    tables (default: all) — the staged per-table screen's lever: one
    table's entries at a time bounds the LIVE shuffle to 1/n_tables of
    the full fan-out (SCALE.md r8: the all-tables 16M shuffle exceeded
    the box's disk)."""
    # The entry array is built as ONE SQL string parsed server-side
    # (identical expression tree to the per-Column form it replaces):
    # tables x (1+planes) struct/XOR Column objects cost 3-5 py4j round
    # trips EACH, ~0.3-0.4 s of pure driver socket wait per call at the
    # default knobs — measured 44% of ann_lsh_topk's plan-build (guide
    # §1 "the driver"; same idiom as the simhash signature rebuild).
    tables = range(n_tables) if tables is None else tables
    flips = [0] + ([1 << p for p in range(n_planes)] if probe else [])
    entries = [
        f"struct({t} as tbl, b{t} ^ {flip} as bkt)" for t in tables for flip in flips
    ]
    return with_buckets.selectExpr(
        "vec_id", f"explode(array({', '.join(entries)})) as e"
    ).selectExpr("vec_id", "e.tbl as tbl", "e.bkt as bkt")


def _bucket_entries(emb: DataFrame, n_planes: int, dim: int, probe: bool) -> DataFrame:
    """(vec_id, tbl, bkt) hash-table entries for every table — buckets are
    computed ONCE per table (one matmul kernel, see _bucket_ids) before any
    probe fan-out."""
    return _entries_from_buckets(_bucket_ids(emb, n_planes, dim), n_planes, probe)


IVF_NPROBE = 8
IVF_ASSIGN = 2  # cells per corpus vector (multi-assignment): with random
# centroids, cosines-to-centroids are near-tied, so a near-duplicate's top
# cell can slip past a query's nprobe window; indexing each vector in its
# 2 best cells makes a miss require BOTH to fall outside the probe set.
# Index size and candidates scale by the same factor (still ~nprobe·2√n).
#
# Hierarchical (two-level) assignment — the r7-measured fix for the one
# superlinear stage in the registry (n·C assignment FLOPs: 105 s at 4M →
# 1007 s at 16M). The first S = ⌈√C⌉ centroids (same content-stable
# hash order that picks the centroids) act as SUPER-centroids; every
# centroid joins the groups of its IVF_CENT_FAN nearest supers, and a
# vector scores only the centroids in the groups of its IVF_VEC_SUPERS
# (queries: IVF_QUERY_SUPERS) nearest supers. Per-vector work drops from
# C to S + fan·(C·IVF_CENT_FAN/S) ≈ (1+2·fan)·√C dot products. The
# pruning is deterministic (content-stable supers, fixed fan-out, total
# tie-breaks), so it is part of the operator's DEFINED semantics and is
# mirrored verbatim in the DuckDB oracle — the exact value-hash check
# survives. When S ≤ fan the union of probed groups is every centroid and
# the semantics degrade continuously to full assignment — no small-corpus
# special case.
_MAX_CENTROIDS = 2048  # scale-independent cap (was 4096): beyond n ≈ 4.2M
# rows assignment work is linear in n; cells get proportionally larger and
# the fixed nprobe·IVF_ASSIGN probe set compensates (candidates/query grow
# ∝ n/C, still a vanishing fraction of the corpus).
IVF_CENT_FAN = 2  # super-groups each centroid joins (overlap aids recall)
IVF_VEC_SUPERS = 4  # super-groups a corpus vector scores during assignment
IVF_QUERY_SUPERS = 8  # queries are few — probe wider for recall


def n_centroids_for(n_rows: int) -> int:
    """IVF coarse-quantizer size: C ≈ √n balances assignment cost against
    cell size (n/C candidates per probed cell) — the classic IVF-flat
    tradeoff. With hierarchical assignment the per-vector assignment cost
    is O(√C·fan), so total work is O(n·n^¼) below the cap and O(n) above."""
    import math

    return min(_MAX_CENTROIDS, max(4, math.ceil(math.sqrt(max(n_rows, 1)))))


def n_supers_for(n_cent: int) -> int:
    """Super-centroid count S = ⌈√C⌉ — n^¼ below the centroid cap:
    balances the always-scored super matmul (S per vector) against group
    size (C·IVF_CENT_FAN/S scored members per probed group)."""
    import math

    return max(1, math.ceil(math.sqrt(max(n_cent, 1))))


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN, IVF-flat variant: top-3 per query from the NPROBE
    nearest coarse cells.

    Centroids are a content-stable sample — the √n (≤ 2048) corpus vectors
    with the smallest md5(vec_id) hashes (TakeOrdered top-C, no RNG state,
    no iterative training; reproducible on any engine). The centroid table
    is the coarse-quantizer state: it is collected once and shipped in the
    assignment kernel's closure (≈ 1 MB at the cap) — the IVF equivalent
    of broadcasting a dimension table, NOT a driver-side loop over data.

    Cell assignment is HIERARCHICAL (see the constants block above): each
    Arrow batch does one (batch×dim)@(dim×S) super matmul, then per probed
    super-group a (rows×dim)@(dim×members) member matmul — ≈ (1+2·fan)·√C
    dot products per vector instead of C, all as BLAS FLOPs. The pruning
    is deterministic and mirrored in the DuckDB oracle, so the exact
    value-hash check still holds. Candidates = equi-join on cell id →
    ≈ nprobe·assign·(n/C) per query — a vanishing corpus fraction. Exact
    ordered-fold cosine ranks candidates, so scores are bit-identical to
    brute force; recall pinned by tests/test_ann_recall.py."""
    import numpy as np
    import pandas as pd

    from roar_spark.catalog import table_row_count

    n = table_row_count("embeddings", sf_dir)
    n_cent = n_centroids_for(n)
    n_sup = n_supers_for(n_cent)

    emb = _with_norm(load_table(spark, "embeddings", sf_dir, spread=SPREAD_MIN_EMB_ROWS))
    hash_col = F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    cent_rows = (
        emb.select(F.col("vec_id").alias("cent_id"), "embedding", hash_col.alias("h"))
        .orderBy("h", "cent_id")
        .limit(n_cent)
        .select("cent_id", "embedding")
        .collect()
    )
    # supers = prefix of the SAME hash ordering that picked the centroids
    # (content-stable; the oracle reproduces it as hrank <= n_sup)
    super_id_set = {r.cent_id for r in cent_rows[:n_sup]}
    cent_rows.sort(key=lambda r: r.cent_id)  # ascending ids → stable-sort tie-break
    cent_ids = np.array([r.cent_id for r in cent_rows], dtype=np.int64)
    cent_mat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in cent_rows])
    cent_mat /= np.linalg.norm(cent_mat, axis=1, keepdims=True)
    sup_idx = np.array([i for i, cid in enumerate(cent_ids) if cid in super_id_set])
    super_mat = cent_mat[sup_idx]  # rows in ascending super_id (cent_ids sorted)

    # centroid → super-group membership (driver-side: C×S matmul, ≤ 2048×46).
    # Stable argsort on -cos with columns in ascending super_id = the
    # oracle's ROW_NUMBER(ORDER BY scos DESC, super_id ASC).
    cs_cos = cent_mat @ super_mat.T
    cs_top = np.argsort(-cs_cos, axis=1, kind="stable")[:, : min(IVF_CENT_FAN, n_sup)]
    members = [np.nonzero((cs_top == s).any(axis=1))[0] for s in range(n_sup)]

    def best_cells(df: DataFrame, id_col: str, k: int, fan: int) -> DataFrame:
        fan = min(fan, n_sup)
        chunk = 4096  # bounds the (chunk × C) score buffer at 64 MB

        def assign(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                m_all = np.stack(pdf["embedding"].to_numpy()).astype("float64")
                m_all /= np.linalg.norm(m_all, axis=1, keepdims=True)
                vid_all = pdf["vec_id"].to_numpy()
                for lo in range(0, len(pdf), chunk):
                    m = m_all[lo : lo + chunk]
                    scos = m @ super_mat.T  # chunk × S
                    tops = np.argsort(-scos, axis=1, kind="stable")[:, :fan]
                    scores = np.full((m.shape[0], cent_mat.shape[0]), -np.inf)
                    for s in range(n_sup):
                        rows = np.nonzero((tops == s).any(axis=1))[0]
                        mem = members[s]
                        if rows.size and mem.size:
                            scores[np.ix_(rows, mem)] = m[rows] @ cent_mat[mem].T
                    # stable argsort on -scores: exact ties resolve toward
                    # the smaller centroid id (columns ascend in cent_id)
                    top = np.argsort(-scores, axis=1, kind="stable")[:, :k]
                    # drop never-scored (-inf) slots — a vector whose probed
                    # groups hold < k centroids emits fewer cells, exactly
                    # as the oracle's rn <= k over existing pairs does.
                    # top.shape[1] (not k): a corpus with fewer centroids
                    # than k yields a narrower top — repeat must match it
                    # (latent in the flat-assignment kernel too; never hit
                    # because every exercised corpus has C > nprobe)
                    keep = (np.take_along_axis(scores, top, axis=1) != -np.inf).ravel()
                    ids = vid_all[lo : lo + chunk].repeat(top.shape[1])
                    yield pd.DataFrame(
                        {id_col: ids[keep], "cell": cent_ids[top].ravel()[keep]}
                    )

        return df.select(F.col(id_col).alias("vec_id"), "embedding").mapInPandas(
            assign, f"{id_col} long, cell long"
        )

    cells = best_cells(emb.select("vec_id", "embedding"), "vec_id", IVF_ASSIGN, IVF_VEC_SUPERS)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    probes = F.broadcast(
        best_cells(
            queries.select(F.col("vec_id").alias("query_id"), "embedding", "nrm"),
            "query_id",
            IVF_NPROBE,
            IVF_QUERY_SUPERS,
        )
    )
    cand = (
        cells.join(probes, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    q_emb = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    # Broadcast the candidate set into the rerank join while it is small
    # enough (same reasoning as ann_lsh_topk's rerank: without the hint the
    # above-threshold fallback is a sort-merge join that shuffle-writes the
    # WHOLE embeddings table before AQE's runtime conversion can skip the
    # read). IVF candidates grow with the corpus — ~N_QUERIES · nprobe ·
    # n·assign/C rows once C hits _MAX_CENTROIDS — so unlike the LSH path
    # (log-bounded) the hint is gated on the estimate: past ~20M candidate
    # rows (~300 MB) a broadcast would strain executors more than the
    # shuffle it avoids, and the plain join is the right plan.
    est_cand = N_QUERIES * IVF_NPROBE * max(1, (n * IVF_ASSIGN) // n_cent)
    cand_side = F.broadcast(cand) if est_cand < 20_000_000 else cand
    scored = (
        cand_side.join(emb, "vec_id")
        .join(q_emb, "query_id")
        .withColumn(
            "cos",
            F.round(cosine(F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")), 6),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        # NULL cos = zero-norm vector (non-comparable): drop BEFORE
        # ranking so degenerate vectors never occupy a top-k slot
        scored.filter(F.col("cos").isNotNull())
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "rank", F.col("vec_id").alias("neighbor_id"), "cos")
        .orderBy("query_id", "rank")
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN: top-3 per query via OR-amplified sign-LSH.

    N_TABLES independent hash tables, each with log2(n/32) hyperplanes
    (scale-derived — see n_planes_for), Hamming-1 multi-probe on the query
    side. Candidates = equi-join on (table, bucket); per query that is
    ≈ N_TABLES · (1+planes) · TARGET_BUCKET_DOCS rows regardless of corpus
    size. The corpus shuffles only (vec_id, tbl, bkt) keys — embeddings are
    re-joined by vec_id for the deduplicated candidate set only. Exact
    ordered-fold cosine ranks the candidates, so reported scores are
    bit-identical to brute force; only the candidate set is approximate.
    Rows-only correctness check (approximate by design); recall ≥ 0.9 on
    planted neighbors is pinned by tests/test_ann_recall.py."""
    from roar_spark.catalog import embedding_dim, table_row_count

    n = table_row_count("embeddings", sf_dir)
    dim = embedding_dim(sf_dir)
    n_planes = n_planes_for(n)

    emb = _with_norm(load_table(spark, "embeddings", sf_dir, spread=SPREAD_MIN_EMB_ROWS))
    corpus_keys = _bucket_entries(emb, n_planes, dim, probe=False)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    probe_keys = F.broadcast(
        _bucket_entries(queries, n_planes, dim, probe=True).select(
            F.col("vec_id").alias("query_id"), "tbl", "bkt"
        )
    )
    cand = (
        corpus_keys.join(probe_keys, ["tbl", "bkt"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    q_emb = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    # BROADCAST the candidate set into the rerank join: candidates are
    # bounded by probes x bucket occupancy per query — without the
    # hint Catalyst broadcasts whichever side its STATS say is small,
    # which above the 10 MB threshold is NEITHER, and the fallback
    # sort-merge join shuffle-writes the entire embeddings table
    # (16 GB at 64M rows; AQE converts the join back to broadcast at
    # runtime but the map-side write has already hit disk — measured
    # ~470 MB/s sustained writes and 2.9x-at-2x growth, r9 64M probe).
    # With the hint the big side is only ever SCANNED. Gated like the
    # IVF rerank (r9 ADVICE): the O(queries·tables·probes·occupancy)
    # bound is an AVERAGE — a skewed corpus with one hot LSH bucket
    # makes cand O(n), and a MANDATORY broadcast would then collect it
    # to the driver and OOM where the ungated plan degrades to a
    # shuffle. Same ~20M-row (~300 MB) cutoff as the IVF gate. With the
    # occupancy-targeted plane count the estimate is ~25k rows, so the
    # cutoff leaves ~800x headroom for hot buckets before the hint
    # disengages; a configuration that inflates even the AVERAGE bound
    # past the cutoff (more queries/tables/probes or a fatter bucket
    # target) gets the stats-driven plan instead of a forced collect.
    est_cand = N_QUERIES * N_TABLES * (1 + n_planes) * TARGET_BUCKET_DOCS
    cand_side = F.broadcast(cand) if est_cand < 20_000_000 else cand
    scored = (
        cand_side.join(emb, "vec_id")
        .join(q_emb, "query_id")
        .withColumn(
            "cos",
            F.round(cosine(F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")), 6),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        # NULL cos = zero-norm vector (non-comparable): drop BEFORE
        # ranking so degenerate vectors never occupy a top-k slot
        scored.filter(F.col("cos").isNotNull())
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "rank", F.col("vec_id").alias("neighbor_id"), "cos")
        .orderBy("query_id", "rank")
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the storage/
    serving compression step of an embedding pipeline. Per vector:
    abs_max = max |x_i|, q_i = floor(x_i * 127/abs_max + 0.5) (explicit
    half-up, identical arithmetic in any IEEE engine — no banker's-
    rounding divergence). Pure per-row projection over built-in array
    expressions: embarrassingly parallel, no shuffle but the final sort,
    no Python."""
    emb = load_table(spark, "embeddings", sf_dir, spread=SPREAD_MIN_EMB_ROWS)
    abs_max = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    # Materialize abs_max in its own projection BEFORE the per-element
    # lambda references it. Embedding the array_max expression directly in
    # the transform body re-evaluates it once PER ELEMENT (higher-order
    # functions run their lambda tree per element with no loop-invariant
    # hoisting) — O(dim²) per row, measured 88 s vs ~2 s at 80 k × dim 64.
    # CollapseProject keeps the split: the alias is non-cheap and referenced
    # twice, so the optimizer won't inline it back.
    emb = emb.withColumn("_abs_max", abs_max)
    scale = F.lit(127.0) / F.col("_abs_max")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("int"),
    )
    # Serialized (CSV string, not array<int>) because the driver's result
    # canonicalizer sorts rows via pandas and raw list columns are
    # unhashable there (r2 `err`). Same digits either engine: int→string
    # cast is locale-free in both Spark and DuckDB.
    return emb.select(
        "vec_id",
        F.round(F.col("_abs_max"), 6).alias("abs_max"),
        F.array_join(q.cast("array<string>"), ",").alias("q_embedding"),
    ).orderBy("vec_id")


# --- LSH-candidate embedding dedup ------------------------------------------
#
# Sign-LSH economics, measured on this corpus (dim 64): candidate volume per
# table ≈ n · (1+planes) · occupancy, and the amplification needed for pair
# recall R at threshold cos θ scales with 1/P(collide)^planes where
# P(collide) = 1 − θ/π. At the corpus-calibrated near-dup threshold 0.4
# (θ ≈ 66°, P ≈ 0.63) recall-complete knobs generate MORE candidates than
# all-pairs (measured: T=8/P=4/ham≤1 → 5.0M candidates vs 2.0M total pairs at
# n=2000) — wide-angle LSH inverts the savings, so below the dispatch cutoff
# the exact block-screen IS the better plan, not a concession. LSH wins when
# the threshold is tight (≥0.9, P ≈ 0.86): the same knobs then hold planted-
# pair recall ≥ 99.9% at candidate volumes growing O(n·log n), which is the
# regime a production embedding-dedup (SemDeDup-style) actually runs in.

DEDUP_EMB_ALLPAIRS_MAX_ROWS = 20_000

# Probe-free banding: the screen does no Hamming-1 probing and instead
# uses MORE, slightly NARROWER tables. Fan-out per vector is exactly
# `tables` payload copies, against tables·(2 + planes/2) for a Hamming≤1
# probed space (= 92 at 16M with 8 tables — by far the most expensive
# shuffle per row in the repo, SCALE.md r9): a probe-free pair space is
# symmetric Hamming-0, so each bucket group self-screens (upper-triangle
# matmul) and needs no plain/probe sides. Config chosen from the
# closed-form recall model (recall = 1-(1-P^b)^T, P = 1-θ/π; probed
# per-table success adds the b·P^(b-1)·(1-P) Hamming-1 term) evaluated at
# 16M rows (b0 = 19):
#
#   config            fan    cos .93   .95    .97    .99
#   probed 8 x b0      92     .953    .986   .9985  1.000
#   PF   14 x b0       14     .727    .862   .965   .9995
#   PF   16 x (b0-1)   16     .817    .921   .985   .9999
#   PF   24 x (b0-1)   24     .921    .978   .998   1.000
#
# 24 tables one bit narrower is the smallest fan-out that stays within
# ~1 recall point of the probed config everywhere above cos 0.93 (the
# regime an embedding dedup runs in); 3.8x fewer screen entries and
# ~1.7x fewer screen FLOPs (occupancy doubles but the probe-side
# replication factor ~10.5 disappears). Empirical sweep in SCALE.md r10;
# end to end the probed screen measured 4.2x slower at 4M and 2.1x at 16M
# (SCALE.md). Wider angles are the exact block screen's regime.
DEDUP_EMB_TABLES_PF = 24
DEDUP_EMB_PF_PLANES_DELTA = 1  # planes = n_planes_for(n) - 1 (occupancy 2x)


def dedup_emb_planes_for(n_rows: int) -> int:
    """Planes per table of the dedup banding config: one bit narrower
    than n_planes_for (bucket occupancy 2x), floored at _MIN_PLANES."""
    return max(_MIN_PLANES, n_planes_for(n_rows) - DEDUP_EMB_PF_PLANES_DELTA)


def _lsh_candidate_pairs(
    emb: DataFrame, n_planes: int, dim: int, n_tables: int = DEDUP_EMB_TABLES_PF
) -> DataFrame:
    """Unordered candidate (vec_id_a < vec_id_b) pairs that share a bucket
    exactly in ANY of the hash tables — the pair space the production
    screen enumerates.

    Buckets are computed once (single matmul — see _bucket_ids) and
    persisted; each vector contributes one (tbl, bkt) entry per table and
    the entry set self-joins on (tbl, bkt). Only key tuples shuffle —
    embeddings never enter the pair stage.

    DIAGNOSTIC surface: this materialization makes candidate VOLUME
    directly countable (tests/test_dedup_embedding_lsh.py's sub-quadratic
    pin, SCALE.md table). The production dedup path enumerates the same
    pair space inside bucket groups with a matmul screen instead
    (_lsh_screened_pairs) so per-pair cost is BLAS, not a fold."""
    wb = _persist_bounded(_bucket_ids(emb, n_planes, dim, n_tables))
    wb.count()  # eager: see _lsh_screened_pairs (concurrent-scan cache race)
    entries = _entries_from_buckets(wb, n_planes, probe=False, n_tables=n_tables)
    left = entries.select(F.col("vec_id").alias("vec_id_a"), "tbl", "bkt")
    right = entries.select(F.col("vec_id").alias("vec_id_b"), "tbl", "bkt")
    return (
        left.join(right, ["tbl", "bkt"])
        .filter(F.col("vec_id_a") < F.col("vec_id_b"))
        .select("vec_id_a", "vec_id_b")
        .distinct()  # pairs collide in several tables
    )


def _lsh_screened_pairs(
    emb: DataFrame,
    n_planes: int,
    dim: int,
    threshold: float,
    n_tables: int = DEDUP_EMB_TABLES_PF,
    tables=None,
    _wb: DataFrame | None = None,
) -> DataFrame:
    """The production pair stage: bucket-grouped matmul screen over the
    banded candidate space, emitting only pairs with screen cosine ≥
    threshold−margin.

    The pair space is exact-collision (Hamming-0) in any table (see
    DEDUP_EMB_TABLES_PF): each vector contributes ONE entry per table, and
    each (tbl, bkt) group self-screens with an upper-triangle matmul, so
    the replicated payload is tables·n rows.

    _lsh_candidate_pairs materializes every bucket collision as an id pair
    and re-joins embeddings — fine for measuring candidate volume, but the
    per-pair interpreted cosine fold then dominates wall-clock (measured
    44.5 s at n=20k: ~25 M candidate folds + a 25 M-row distinct). Here the
    pair enumeration never leaves the bucket group: entries join embeddings
    ONCE (replication = tables·n, linear), each (tbl, bkt) group does one
    numpy matmul (the BLAS kernel the per-pair folds should have been), and
    only screen survivors — actual near-dups, not candidates — reach the
    distinct and the exact recheck. Per-group memory is bounded by bucket
    occupancy (targeted 32, see n_planes_for); a skewed hot bucket
    concentrates work the same way any bucketed pair stage does (simhash
    pigeonhole, minhash banding) and is equally visible in the group
    size."""
    import numpy as np
    import pandas as pd

    if _wb is None:
        wb = _persist_bounded(_bucket_ids(emb, n_planes, dim, n_tables, emit_qemb=True))
        # EAGER materialization: wb fans out to two SMJ map stages
        # (entries explode + qemb payload) that AQE can submit
        # CONCURRENTLY, and a lazy persist is populated independently by
        # each racing scan — the hash matmul ran twice at once, doubling
        # Python-worker load and cache allocation (measured: the
        # hash/persist region ballooned 90 s → ~900 s with 3034 core-s of
        # JVM GC at 4M; event-log attribution). One count() populates
        # the cache before the fan-out; every downstream scan then reads it.
        wb.count()
    else:
        wb = _wb  # staged caller shares ONE materialized bucket table
    import math

    # Screen payload = the int8-quantized unit vector _bucket_ids already
    # computed (~3.3× smaller than array<float> on the wire). The margin
    # is the PROVEN dim-dependent quantization bound on the RE-NORMALIZED
    # quantized vectors the kernel compares (derivation in _bucket_ids):
    # with ε = √dim·(0.5/127), renormalization re-inflates the raw q/127
    # error by at most 1/(1−ε/2), and cos is 1-Lipschitz per unit
    # argument, so 2·ε/(1−ε/2) (+ float slack) can never screen out a
    # true pair. Survivors still get the exact fold, so results stay
    # bit-identical.
    eps = math.sqrt(dim) * (0.5 / 127.0)
    screen_min = threshold - (2.0 * eps / max(1.0 - eps / 2.0, 0.5) + 1e-6)

    entries = _entries_from_buckets(
        wb, n_planes, probe=False, n_tables=n_tables, tables=tables
    )
    tagged = entries.join(
        wb.select("vec_id", F.col("qemb").alias("embedding")), "vec_id"
    )
    # SORTED-STREAM kernel, not applyInPandas: FlatMapGroupsInPandas
    # calls Python once PER GROUP, and at the targeted occupancy (~64
    # rows/bucket) the per-call overhead (Arrow slice → pandas frame →
    # object-array stack) measured ~4.5 ms/group — 223 s of the 354 s
    # 4M screen with the JVM 91% idle (event-log attribution, SCALE.md).
    # Hash-repartition on the group key + sort-within-partition gives
    # the contiguous-groups layout; mapInPandas then slices HUNDREDS of
    # groups out of each ~10k-row Arrow batch with one stack/normalize
    # per batch and pure numpy views per group. A group can span Arrow
    # batch boundaries, so the tail group of every batch carries forward
    # until its key changes.
    # single int64 group key: tbl < 2^6 tables, bkt < 2^planes <= 2^24.
    # The key gives bkt 32 bits — n_planes > 32 would silently merge
    # buckets ACROSS tables (a merged group shares one top-k/threshold
    # cut and can screen out candidates that survive in their own
    # bucket). n_planes_for caps at _MAX_PLANES = 24 today; enforce
    # the invariant where the key is built.
    assert n_planes <= 32, f"packed (tbl,bkt) key needs n_planes <= 32, got {n_planes}"
    key = F.col("tbl").cast("long") * F.lit(4294967296) + F.col("bkt")
    tagged = (
        tagged.withColumn("gk", key)
        .repartition("gk")
        .sortWithinPartitions("gk")
        .select("gk", "vec_id", "embedding")
    )

    def screen_stream(batches):
        def emit(ids, u):
            cos = u @ u.T
            # zero-norm rows: NaN >= screen_min is False — dropped,
            # matching the exact recheck's NULL-cosine rejection
            ia, ib = np.nonzero(np.triu(cos >= screen_min, k=1))
            if len(ia) == 0:
                return None
            lo = np.minimum(ids[ia], ids[ib])
            hi = np.maximum(ids[ia], ids[ib])
            return pd.DataFrame({"vec_id_a": lo, "vec_id_b": hi})

        carry = None  # (keys, ids, unit_rows) of the batch-tail group
        for pdf in batches:
            if pdf.empty:
                continue
            keys = pdf["gk"].to_numpy()
            ids = pdf["vec_id"].to_numpy()
            u = _unit_rows(np.stack(pdf["embedding"].to_numpy()).astype("float64"))
            if carry is not None:
                ck, ci, cu = carry
                keys = np.concatenate([ck, keys])
                ids = np.concatenate([ci, ids])
                u = np.concatenate([cu, u])
                carry = None
            # contiguous groups: starts[i]..starts[i+1] share a key
            starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
            # the last group may continue in the next batch — carry it
            carry = (keys[starts[-1]:], ids[starts[-1]:], u[starts[-1]:])
            out = []
            for i in range(len(starts) - 1):
                lo, hi = starts[i], starts[i + 1]
                if hi - lo >= 2:
                    res = emit(ids[lo:hi], u[lo:hi])
                    if res is not None:
                        out.append(res)
            if out:
                yield pd.concat(out, ignore_index=True)
        if carry is not None and len(carry[1]) >= 2:
            res = emit(carry[1], carry[2])
            if res is not None:
                yield res

    return (
        tagged.mapInPandas(screen_stream, "vec_id_a long, vec_id_b long")
        .distinct()  # pairs survive in several tables
    )


def _release_stage_shuffles(spark: SparkSession) -> None:
    """Best-effort release of a finished stage's shuffle files between the
    sequential per-table jobs of the STAGED screen: the stage's survivor
    pairs were localCheckpoint()ed (lineage truncated), so its
    ShuffleDependency objects are unreachable once the Python plan proxies
    drop — a Python GC detaches the py4j refs and a JVM GC lets
    ContextCleaner's weak-ref queue unregister the shuffles and delete
    their files before the next stage writes its own. Asynchronous by
    nature (the cleaner is a daemon thread), hence best-effort — the
    16M probe verifies the disk ceiling empirically (SCALE.md r9)."""
    import gc as _gc

    _gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001 — cleanup must never fail the operator
        pass


def _lsh_screened_pairs_staged(
    emb: DataFrame,
    n_planes: int,
    dim: int,
    threshold: float,
    n_tables: int = DEDUP_EMB_TABLES_PF,
) -> DataFrame:
    """The screen executed ONE HASH TABLE AT A TIME: identical pair space
    and survivors as _lsh_screened_pairs (equivalence pinned), but the
    live shuffle is one table's fan-out — n entries — instead of all
    tables' at once. A single-job screen with 92 entry copies/vector died
    on this box's disk at 16M rows (SCALE.md r8); staging divides the
    PEAK by n_tables and releases each stage's files before the next
    starts (_release_stage_shuffles). At 24 copies/vector the single-job
    form fits 16M and staging engages only above
    DEDUP_EMB_STAGED_MAX_ENTRIES (= 16.7M+ rows; measured: 32M staged in
    1263.8 s, SCALE.md r10). Cost: n_tables sequential jobs over the one
    eagerly-materialized bucket table (the hash matmul runs once — wb is
    shared) plus a tiny cross-stage distinct; on a cluster the same
    operator runs single-job (the shuffle service owns the disk) — this
    is a single-box disk guard, not a semantics change.

    Each stage's survivors are actual near-dup pairs (screen output, not
    candidates) — localCheckpoint materializes kilobytes-to-megabytes,
    never the pair space."""
    from functools import reduce

    from roar_spark.caching import checkpoint_handle, register_scoped

    spark = emb.sparkSession
    wb = _persist_bounded(_bucket_ids(emb, n_planes, dim, n_tables, emit_qemb=True))
    wb.count()  # eager: see _lsh_screened_pairs (concurrent-scan cache race)
    parts = []
    for t in range(n_tables):
        stage = _lsh_screened_pairs(
            emb,
            n_planes,
            dim,
            threshold,
            n_tables=n_tables,
            tables=[t],
            _wb=wb,
        )
        # eager: runs THIS table's job now; truncates lineage so the
        # stage's shuffles become reclaimable before the next stage
        parts.append(stage.localCheckpoint(eager=True))
        _release_stage_shuffles(spark)
    # Every stage has run: wb is spent — swap the family cache to the
    # stages' cleanup handles. This releases wb NOW instead of at the
    # next operator, and frees the checkpointed stage blocks explicitly
    # when the next similarity invocation swaps them out (otherwise they
    # are freed only by GC).
    register_scoped(_WB_CACHE, _WB_CACHE_LOCK, [checkpoint_handle(p) for p in parts])
    return reduce(DataFrame.unionAll, parts).distinct()


DEDUP_EMB_STAGED_MAX_ENTRIES = 400_000_000  # single-JOB screen-entry budget
# on this box, in replicated payload ENTRIES (n·fanout/vector), calibrated
# from the r8 probes with a 92-copy fan-out: 4M·92 = 368M entries
# completed single-job, 16M·92 = 1.47G died in the screen-entry shuffle.
# Above the budget the screen runs staged per-table (peak shuffle ÷
# tables, files released between stages). Entry-denominated rather than
# row-denominated because the fan-out is a config choice: at 24
# copies/vector 16M is 384M entries and runs SINGLE-JOB. On a cluster
# with a shuffle service the single-job form is fine at any n — this is
# a single-box disk guard, not a semantics change (equivalence pinned).


def dedup_embedding_lsh(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = COSINE_THRESHOLD,
    force_lsh: bool | None = None,
    force_staged: bool | None = None,
    force_corpus_rows: int | None = None,
) -> DataFrame:
    """Embedding near-dup dedup with an LSH candidate stage: keep-first
    semantics identical to dedup_embedding, but candidate pairs come from
    OR-amplified sign-LSH buckets instead of the all-pairs block screen.

    Dual-path dispatch on parquet-footer row count (the dedup_simhash
    pattern): corpora ≤ DEDUP_EMB_ALLPAIRS_MAX_ROWS run the exact
    block-screen path — at the corpus-calibrated wide-angle threshold the
    exact screen is strictly cheaper than recall-complete LSH (measured,
    see module comment), so small corpora get oracle-exact results by the
    better plan. Beyond the cutoff, candidates are PROBE-FREE banded
    collisions (exact bucket match in any of DEDUP_EMB_TABLES_PF narrow
    tables — config rationale and recall model at the constant) and the
    operator is recall-approximate BY CONTRACT at wide angles while
    holding ≥ 99.9% planted-pair recall in the tight-threshold regime
    (pinned by tests/test_dedup_embedding_lsh.py, which also pins
    exact-vs-LSH output equivalence there). The recheck stage is the
    shared exact ordered fold, so every emitted decision is exact — only
    the candidate set is approximate. Shuffle: tables·n bucket-keyed
    payload entries + survivor id pairs — sub-quadratic growth pinned by
    the same test and the scale_smoke table.

    Above DEDUP_EMB_STAGED_MAX_ENTRIES replicated entries the screen runs
    STAGED per hash table (_lsh_screened_pairs_staged): identical pair
    space and survivors, but the live shuffle is one table's fan-out —
    the single-box disk lever for the regime past the single-job frontier
    (SCALE.md r8/r9)."""
    from roar_spark.catalog import embedding_dim, table_row_count

    n = table_row_count("embeddings", sf_dir)
    use_lsh = force_lsh if force_lsh is not None else n > DEDUP_EMB_ALLPAIRS_MAX_ROWS
    # force_corpus_rows derives the BANDING config (plane count) as if the
    # corpus had that many rows — the recall-pin tests run the 16M-scale
    # config on a small planted corpus (pair recall depends only on the
    # pair's own codes, never on corpus size). Cost levers (staging,
    # shuffle-width tuning) still follow the REAL row count.
    n_cfg = force_corpus_rows if force_corpus_rows is not None else n
    n_planes = dedup_emb_planes_for(n_cfg)
    entries = n * DEDUP_EMB_TABLES_PF  # one screen entry per vector per table
    staged = (
        force_staged
        if force_staged is not None
        else entries > DEDUP_EMB_STAGED_MAX_ENTRIES
    )
    # spread on the LSH path: the first stage is the dense hash matmul
    # (heavy per-row work, no early shuffle) — exactly the documented
    # opt-in case; a single-row-group file would serialize it in one task
    if use_lsh:
        # heaviest shuffle: the screen's replicated payload through the
        # (tbl,bkt) exchange (ONE table's worth when staged); width travels
        # with this plan via the (possibly cloned) session
        from roar_spark.session import tuned_session

        spark = tuned_session(spark, n if staged else entries)
    emb = _with_norm(load_table(spark, "embeddings", sf_dir, spread=use_lsh))
    if use_lsh:
        screen = _lsh_screened_pairs_staged if staged else _lsh_screened_pairs
        cand = screen(emb, n_planes, embedding_dim(sf_dir), threshold)
        pairs = _exact_pair_recheck(emb, cand, threshold)
    else:
        pairs = _exact_cosine_pairs(spark, sf_dir, threshold)
    dups = pairs.select(F.col("vec_id_b").alias("vec_id"))
    return emb.select("vec_id").join(dups, "vec_id", "left_anti").orderBy("vec_id")


# Fixed-point scale for the exact centroid accumulator: 1e6 keeps float32
# inputs (|v| < ~4 here) well inside int64 even at trillions of vectors per
# (label, dim) group (1e12 rows × 4e6 ≈ 4e18 < 2^63).
CENTROID_MICRO_SCALE = 1_000_000


def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column in long (label, dim)
    format — the class-prototype / cluster-summary aggregation of an
    embedding pipeline (and the building block of a Lloyd iteration).

    Determinism at any parallelism: each float is fixed-point-quantized
    per row (floor(v·1e6 + 0.5), explicit half-up — the embedding_quantize
    arithmetic), so the per-group accumulator is an exact int64 SUM —
    order- and partitioning-independent, unlike a double sum whose value
    depends on reduction order. The displayed centroid divides the exact
    integer by (n·1e6) once, then round(…, 6).

    Shape: posexplode fans each vector into (dim, value) rows and partial
    aggregation collapses them map-side to ≤ labels×dim rows per task, so
    the shuffle moves O(labels·dim·tasks) bytes regardless of corpus size.
    Long output format (rows, not an array column) keeps the result
    canonicalizer-friendly and join-ready for assignment steps."""
    emb = load_table(spark, "embeddings", sf_dir)
    x = emb.select("label", F.posexplode("embedding").alias("dim", "v"))
    micro = F.floor(
        F.col("v").cast("double") * F.lit(float(CENTROID_MICRO_SCALE)) + F.lit(0.5)
    ).cast("long")
    return (
        x.select("label", F.col("dim").cast("long").alias("dim"), micro.alias("micro"))
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("micro").alias("sum_micro"),
        )
        .select(
            "label",
            "dim",
            "n_vecs",
            "sum_micro",
            F.round(
                F.col("sum_micro").cast("double")
                / (F.col("n_vecs").cast("double") * CENTROID_MICRO_SCALE),
                6,
            ).alias("centroid"),
        )
        .orderBy("label", "dim")
    )


KNN_K = 10


def embedding_knn_classify(
    spark: SparkSession, sf_dir: str, force_matmul: bool | None = None
) -> DataFrame:
    """k-NN label prediction: for each query vector (vec_id < N_QUERIES),
    take its KNN_K nearest corpus neighbors by exact cosine (self
    excluded) and predict the majority label; ties break by (votes desc,
    best neighbor cosine desc, label asc) — fully deterministic, so the
    result carries an exact SQL oracle. Above the size cutoff the scoring
    dispatches to the Arrow matmul kernel (_matmul_brute_scores), same
    trade and caveat as sim_brute_topk.

    Scale shape (the classifier-inference pattern over a labeled corpus,
    e.g. quality/domain labeling of new documents against a curated seed
    set): the QUERY side broadcasts — the labeled corpus streams through
    one scan with no shuffle for the scoring join; the only shuffles are
    the per-query rank window and the tiny vote aggregation, both keyed
    by query_id (cardinality = |queries|, not |corpus|). For bulk
    classification (|queries| ~ |corpus|) the same vote stage composes
    with ann_lsh_topk's candidate generation instead of the brute join —
    identical semantics above the candidate stage.

    Reference scope: client-side similarity scoring delegated by the
    serving gateway (SURVEY.md Part B north-star); no reference-engine
    counterpart file."""
    from roar_spark.catalog import table_row_count

    matmul = (
        table_row_count("embeddings", sf_dir) > _BULK_EXACT_RERANK_CUTOFF
        if force_matmul is None
        else force_matmul
    )
    emb = _with_norm(load_table(spark, "embeddings", sf_dir, spread=SPREAD_MIN_EMB_ROWS))
    if matmul:
        # scale path: one BLAS matmul per Arrow batch scores all queries,
        # per-batch top-k in-kernel — the exact expression fold was
        # fold-bound at ~200 s for 16M×10 pairs (SCALE.md r7). The
        # true_label lookup is built from the SAME driver-side query
        # collect the kernel uses, not a third table scan (r7 review).
        qrows = _collect_query_rows(emb)
        scored = _matmul_brute_scores(emb, KNN_K, qrows).withColumn(
            "cos", F.round("cos", 6)
        )
        true_labels = spark.createDataFrame(
            [(r.vec_id, r.label) for r in qrows] or [],
            "query_id long, true_label int",
        )
        w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
        nn = (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= KNN_K)
            .join(F.broadcast(true_labels), "query_id")
        )
    else:
        q = F.broadcast(
            emb.filter(F.col("vec_id") < N_QUERIES).select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("true_label"),
                F.col("embedding").alias("q_emb"),
                F.col("nrm").alias("q_nrm"),
            )
        )
        scored = emb.join(q, F.col("vec_id") != F.col("query_id")).withColumn(
            "cos",
            F.round(cosine(F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")), 6),
        )
        nn = _topk_per_query(
            # zero-norm: never a neighbor; narrow projection before the
            # rank shuffle (embeddings stay in the scan)
            scored.filter(F.col("cos").isNotNull()).select(
                "query_id", "true_label", "vec_id", "label", "cos"
            ),
            KNN_K,
            "rk",
        )
    votes = nn.groupBy("query_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes"),
        F.max("cos").alias("best_cos"),
    )
    return _pick_knn_vote(votes).orderBy("query_id")


def _pick_knn_vote(votes: DataFrame) -> DataFrame:
    """Deterministic winner per query from a (query_id, label, n_votes,
    best_cos) vote table — shared by brute and bulk classify. A
    ``true_label`` column is passed through when the caller already
    carries one (brute does; bulk attaches it in its corpus left-join
    instead, so forcing the column here would cost an n-row join whose
    output is immediately dropped — r7 review)."""
    wv = W.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.desc("best_cos"), F.asc("label")
    )
    carry = ["true_label"] if "true_label" in votes.columns else []
    return (
        votes.withColumn("vrk", F.row_number().over(wv))
        .filter(F.col("vrk") == 1)
        .select(
            "query_id",
            *carry,
            F.col("label").alias("predicted_label"),
            "n_votes",
            "best_cos",
        )
    )


# Screen slack for the bulk-kNN bucket rerank: numpy's blocked matmul and
# the exact ordered fold disagree only at summation-order level (~1e-12 on
# unit vectors), and the exact cosine is compared after round(·, 6) — a
# 1e-4 margin therefore keeps every candidate that could tie or beat the
# k-th under the exact rounded score, with ~zero extra survivors.
_KNN_SCREEN_MARGIN = 1e-4

# Max float64 cells per cosine block in the bulk-kNN screen (~32 MB): caps
# executor memory under hash skew, where one bucket can hold far more than
# the ~32-doc design occupancy. Module-level so tests can shrink it to
# force multi-block execution on small corpora.
_SCREEN_BLOCK_FLOATS = 4_000_000


def _knn_screened_candidates(
    emb: DataFrame,
    n_planes: int,
    dim: int,
    k: int,
    n_tables: int = N_TABLES,
    quantize: bool = False,
) -> DataFrame:
    """(query_id, vec_id, cos) candidate pairs for bulk k-NN: per
    (tbl, bkt) group, one corpus×query matmul scores every in-bucket pair
    and only each query's top-k-with-margin survives — the
    _lsh_screened_pairs kernel specialized to per-query top-k selection.
    NOT deduplicated across tables: the same pair surfaces once per
    shared bucket (with last-ulp matmul jitter on cos), and each caller
    applies its own dedup — select+distinct for the exact rerank,
    groupBy+max(cos) for the screen-scored rerank.

    Why a per-group top-k is a safe filter for the GLOBAL top-k: if a
    candidate ranks below k inside its own bucket, the ≥ k candidates
    above it there are also global candidates for that query, so it can
    never enter the global top-k. The margin widens the per-group cut so
    a candidate whose exact rounded cosine ties the k-th can't be lost to
    float summation-order noise (and, for the screen-scored rerank,
    covers the ≤1e-12 cross-bucket jitter of the same pair's matmul cos);
    ties within the margin all survive and the downstream rerank orders
    them deterministically. Versus materializing every bucket collision
    (the previous shape), the rerank runs only on ≈ k·tables survivors
    per query instead of every collision (~tables·occupancy) — the
    per-pair cost of the collision space is one BLAS matmul per bucket.

    The emitted ``cos`` is the float64 matmul cosine of the renormalized
    payload vectors: TRUE embeddings when ``quantize=False`` (differs from
    the exact ordered-fold `cosine()` only at summation-order level,
    ~1e-15 on unit vectors, absorbed by `round(·, 6)`), or the int16-
    quantized unit vectors when ``quantize=True`` (within the proven ±2δ
    bound of true — see the margin derivation below; used as the final
    score only on the rows-only large-n path). Zero-norm rows
    (NaN → −2 sentinel) and self-pairs are cut in-kernel: both were
    dropped downstream anyway (the exact rerank's NULL-cosine filter), so
    shipping them was pure shuffle waste."""
    import math

    import numpy as np
    import pandas as pd

    # The bucket table is persisted+eagerly-counted ONLY when the plan
    # consumes it more than once (quantize=True: entries + the qemb
    # payload join) — the concurrent-scan cache race _lsh_screened_pairs
    # documents. Unquantized, wb has exactly ONE consumer — the entry
    # explode — so a persist+count would be a pure extra job plus cache
    # build; skipping it lets the hash matmul pipeline straight into the
    # explode and the group-key exchange's map side (one stage, no cache
    # bytes; measured exec −0.3–0.5 s at sf0.1).
    wb = _bucket_ids(emb, n_planes, dim, n_tables, emit_qemb="int16" if quantize else False)
    if quantize:
        wb = _persist_bounded(wb)
        wb.count()  # eager: see _lsh_screened_pairs (concurrent-scan cache race)
    # corpus and query entry sets are identical (probe-free), so ONE
    # explosion serves both sides: every row is a query and a candidate
    tagged = _entries_from_buckets(wb, n_planes, probe=False, n_tables=n_tables)
    if quantize:
        # int16 screen payload (scale cancels under renormalization): the
        # entry shrinks from ~620 B (array<float> + row overhead, measured
        # in the r8 16M probe that filled the disk at ~35 GB of screen
        # shuffle) to ~170 B — the difference between "killed by no-space
        # at 16M" and completing on one box. The margin below absorbs the
        # PROVEN int16 quantization bound, so no candidate the true rounded
        # score would rank ≤ k is ever screened out; the emitted cos is
        # the quantized cosine (±2δ of true — see margin derivation), used
        # as the final score only on the rows-only large-n path.
        payload = wb.select("vec_id", F.col("qemb").alias("embedding"))
    else:
        payload = emb.select("vec_id", "embedding")
    tagged = tagged.join(payload, "vec_id")

    # per-pair screen-vs-true gap: 0 unquantized (same float64 matmul);
    # quantized, each side's renormalized int16 error is ε/(1−ε/2) with
    # ε = √dim·(0.5/32767) (the _bucket_ids bound at scale 32767), so
    # δ = 2ε/(1−ε/2) per pair — and the k-th order statistic also shifts
    # ≤ δ, hence the 2δ widening: cos_q(c) ≥ cos_t(c)−δ ≥ kth_t−δ ≥ kth_q−2δ
    # for any candidate whose true cosine reaches the true k-th.
    margin = _KNN_SCREEN_MARGIN
    if quantize:
        eps = math.sqrt(dim) * (0.5 / 32767.0)
        margin += 2.0 * (2.0 * eps / (1.0 - eps / 2.0))

    def topk_keep(ids, u):
        """Per-group top-k-with-margin screen — every row of the group
        is a query against every row of it: returns the surviving
        (query_id, vec_id, cos) triples. Blocked over query rows so
        peak memory is O(block × corpus) — bucket occupancy is ~32 by
        construction, but hash skew (a duplicate-heavy corpus puts every
        copy of a vector in ONE bucket in EVERY table) is unbounded, and
        a dense d×d float64 cosine matrix at d=100k would be ~80 GB. Each
        query row's top-k depends only on its own matrix row, so blocking
        changes nothing semantically."""
        nc = len(ids)
        kk = min(k, nc)
        block = max(1, _SCREEN_BLOCK_FLOATS // max(1, nc))
        out_q: list[np.ndarray] = []
        out_p: list[np.ndarray] = []
        out_c: list[np.ndarray] = []
        for s in range(0, nc, block):
            cos = u[s : s + block] @ u.T  # block × group
            cos[np.isnan(cos)] = -2.0  # zero-norm rows: never neighbors
            # (exact stage's NULL cosine) — and keeps the k-th real
            self_mask = ids[s : s + block, None] == ids[None, :]
            cos[self_mask] = -2.0  # a vector is never its own neighbor
            # k-th largest per query row; the masked -2 self entries can
            # only LOWER the cut (more survivors), never exclude a real one
            kth = np.partition(cos, nc - kk, axis=1)[:, nc - kk]
            # cos > -1.5 cuts the -2 sentinels (zero-norm / self) that
            # survive the rank cut in an under-full bucket (kth = -2)
            keep = (cos >= kth[:, None] - margin) & (cos > -1.5)
            iq, ip = np.nonzero(keep)
            out_q.append(ids[s + iq])
            out_p.append(ids[ip])
            out_c.append(cos[iq, ip])
        return out_q, out_p, out_c

    # SORTED-STREAM kernel, not applyInPandas — the same shape
    # _lsh_screened_pairs carries. FlatMapGroupsInPandas calls Python
    # once PER (tbl, bkt) GROUP (~4.5 ms/group measured in the event-log
    # attribution); at sf0.1 that is ~256 groups ≈ 1.2 s of pure call
    # overhead for a 2k-row corpus, and at any scale it taxes the
    # targeted ~32-row occupancy. Hash-repartition on a single packed
    # group key + sort-within-partition gives the contiguous-groups
    # layout; mapInPandas slices hundreds of groups per Arrow batch with
    # one stack/normalize per batch, carrying the batch-tail group
    # forward until its key changes.
    # bkt gets 32 bits in the packed key — see the _lsh_screened_pairs
    # assert: n_planes > 32 would merge buckets across tables
    assert n_planes <= 32, f"packed (tbl,bkt) key needs n_planes <= 32, got {n_planes}"
    key = F.col("tbl").cast("long") * F.lit(4294967296) + F.col("bkt")
    tagged = (
        tagged.withColumn("gk", key)
        .repartition("gk")
        .sortWithinPartitions("gk")
        .select("gk", "vec_id", "embedding")
    )

    def screen_stream(batches):
        def emit(ids, mat):
            if len(ids) < 2:
                # singleton bucket: the self row is masked to -2 and
                # nothing survives the sentinel cut
                return None
            out_q, out_p, out_c = topk_keep(ids, _unit_rows(mat))
            if not out_q or not sum(len(a) for a in out_q):
                return None
            return pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_p),
                    "cos": np.concatenate(out_c),
                }
            )

        carry = None  # (keys, ids, raw_rows) of the batch-tail group
        for pdf in batches:
            if pdf.empty:
                continue
            keys = pdf["gk"].to_numpy()
            ids = pdf["vec_id"].to_numpy()
            mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            if carry is not None:
                ck, ci, cm = carry
                keys = np.concatenate([ck, keys])
                ids = np.concatenate([ci, ids])
                mat = np.concatenate([cm, mat])
                carry = None
            # contiguous groups: starts[i]..starts[i+1] share a key
            starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
            # the last group may continue in the next batch — carry it
            carry = (keys[starts[-1]:], ids[starts[-1]:], mat[starts[-1]:])
            out = []
            for i in range(len(starts) - 1):
                lo, hi = starts[i], starts[i + 1]
                res = emit(ids[lo:hi], mat[lo:hi])
                if res is not None:
                    out.append(res)
            if out:
                yield pd.concat(out, ignore_index=True)
        if carry is not None:
            res = emit(carry[1], carry[2])
            if res is not None:
                yield res

    return tagged.mapInPandas(
        screen_stream, "query_id long, vec_id long, cos double"
    )


# Above this corpus size the bulk classifier reranks on the SCREEN's own
# matmul cosine instead of re-joining float embeddings onto pair rows: the
# exact-fold rerank's three pair-sized embedding-carrying shuffles
# (survivors × ~600 B at dim 64) totaled ~120 GB at 4M docs and filled the
# local disk (r6 scale run) while the screen-scored shape ships only
# (query_id, vec_id, cos) 24 B rows. Below it the exact ordered-fold
# rerank keeps bit-parity with the published DuckDB oracle (driver SFs are
# ≤ 2k embeddings); the two paths are output-equality-pinned on a seeded
# corpus (tests/test_knn_tfidf_mix.py) — round(·, 6) absorbs the
# summation-order gap between BLAS matmul and the ordered fold except on
# rounding-boundary hits (see the operator docstring's caveat).
_BULK_EXACT_RERANK_CUTOFF = 20_000

# Above this corpus size the screen ships the int16-quantized payload
# instead of array<float> (~170 B vs ~620 B per entry): the r8 16M probe
# measured the float screen shuffle filling the box's 44 GB free disk at
# ~35 GB written (SCALE.md) — the quantized form is ~4× smaller. Kept off
# below the cutoff so every oracle/pinned size sees bit-identical floats;
# above it the final scores are already the rows-only screen cosines, and
# the margin widening makes candidate survival provably lossless
# (derivation in _knn_screened_candidates).
_SCREEN_QUANT_CUTOFF = 1_000_000


def embedding_knn_classify_bulk(
    spark: SparkSession,
    sf_dir: str,
    k: int = KNN_K,
    force_screen_rerank: bool | None = None,
    quantize_screen: bool | None = None,
) -> DataFrame:
    """Full-corpus k-NN label prediction — the bulk-classification path
    the brute operator's docstring promises: EVERY vector is classified,
    so the query side cannot broadcast; candidates come from the same
    OR-amplified sign-LSH tables as ann_lsh_topk, but the collision space
    is screened INSIDE each bucket group by one corpus×query matmul that
    keeps only each query's top-k-with-margin (_knn_screened_candidates —
    never all-pairs, never a per-collision fold), a rerank orders just
    those survivors (exact ordered-fold cosine below the size cutoff, the
    screen's own matmul cosine above it — see force_screen_rerank), and
    the vote stage is identical to embedding_knn_classify (votes desc,
    best cosine desc, label asc — deterministic; the margin guarantees
    the screen never drops a candidate the rounded score would rank ≤ k).

    Scale shape: corpus hashes once per table (Arrow-batched matmul,
    _bucket_ids); per-bucket work is one BLAS matmul bounded by bucket
    occupancy (planes are sized for ~32-doc buckets at any n —
    n_planes_for), and only ≈ k·tables survivors per vector reach the
    rerank, so total work is O(n · tables · 32) matmul FLOPs +
    O(n · k · tables) rerank rows ≈ linear in corpus size where brute
    classification is O(n²). Approximate only in the candidate set;
    scores above it are 6-decimal roundings of a float64 cosine on both
    paths (see the rerank-gap caveat under ``force_screen_rerank``).

    No Hamming-1 multi-probe: it suits a SMALL query set (ann_lsh_topk
    uses it), but at bulk scale it turns ~128 candidates/vector into
    ~1500 (measured: the 80k smoke ran 10× longer); with every vector
    already OR-matched across N_TABLES independent tables, table
    diversity supplies the recall instead.

    ``quantize_screen`` (None = dispatch on _SCREEN_QUANT_CUTOFF) ships
    the int16-quantized payload through the screen shuffle above 1M rows
    — ~4× narrower entries, the fix for the measured 16M disk ceiling
    (SCALE.md r8); candidate survival stays provably lossless via the
    margin widening in _knn_screened_candidates, and reported scores
    (already the rows-only screen cosines at those sizes) move by ≤ ~5e-4.

    ``force_screen_rerank`` overrides the size dispatch between the two
    rerank shapes (None = dispatch on _BULK_EXACT_RERANK_CUTOFF):

    - exact (small n): survivors re-join float embeddings and the ordered
      fold `cosine()` scores each pair — bit-parity with the DuckDB
      oracle, but three pair-sized embedding-carrying shuffles.
    - screen-scored (large n): the score IS the screen's own float64
      matmul cosine (max over shared buckets, then round(·, 6)); no
      embedding ever attaches to a pair row, so the rerank ships 24 B
      rows instead of ~1.2 KB — the shape that removed the 4M single-box
      disk ceiling (SCALE.md). The BLAS-vs-ordered-fold summation gap is
      ~dim·1e-16 per cosine; round(·, 6) absorbs it EXCEPT for cosines
      landing within that gap of a 0.5e-6 rounding boundary, so at 100M+
      survivor pairs a handful of best_cos values may differ in the 6th
      decimal from what the exact fold would emit (and a vote can flip
      only on an exact tie at that digit). Never at driver SFs — they
      dispatch to the exact path — and equality-pinned across the cutoff
      on a 650-row corpus in tests, where boundary hits have ~1e-9
      probability."""
    from roar_spark.catalog import embedding_dim, table_row_count

    n = table_row_count("embeddings", sf_dir)
    dim = embedding_dim(sf_dir)
    n_planes = n_planes_for(n)
    screen_rerank = (
        n > _BULK_EXACT_RERANK_CUTOFF
        if force_screen_rerank is None
        else force_screen_rerank
    )
    quantize = (
        n > _SCREEN_QUANT_CUTOFF if quantize_screen is None else quantize_screen
    )

    # Heaviest shuffle by BYTES: the screen explosion (n·tables rows
    # carrying the dim-wide embedding, ~12× the record size
    # ROWS_PER_SHUFFLE_TASK is calibrated for); on the exact path the
    # rerank joins move ≈ n·k·tables embedding-carrying pair rows on top.
    # Width tuning keeps each task's sort in memory — it cannot reduce
    # the TOTAL live shuffle footprint (files persist for the whole job),
    # which is exactly why the screen-scored rerank exists: it removes
    # the ~120 GB of pair-sized embedding shuffles measured at 4M (r6),
    # leaving the screen explosion as the only wide stage.
    from roar_spark.session import tuned_session

    screen_row_units = 3 if quantize else 12  # int16 payload ≈ 4× narrower
    heaviest = n * N_TABLES * screen_row_units if screen_rerank else n * k * N_TABLES * 8
    spark = tuned_session(spark, heaviest)
    emb = _with_norm(load_table(spark, "embeddings", sf_dir, spread=SPREAD_MIN_EMB_ROWS))
    screened = _knn_screened_candidates(emb, n_planes, dim, k, quantize=quantize)
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    if screen_rerank:
        # dedup across tables keeps the LARGEST matmul cos (same pair,
        # last-ulp jitter between buckets); rounding AFTER the max mirrors
        # the exact path's round-then-rank. No NULL/sentinel filter: the
        # kernel already cut zero-norm and self rows.
        scored = screened.groupBy("query_id", "vec_id").agg(
            F.round(F.max("cos"), 6).alias("cos")
        )
        nn = (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            # candidate labels attach AFTER the top-k cut — ~n·k rows
            # instead of every survivor, and the rank shuffle stays
            # three-column narrow
            .join(emb.select("vec_id", "label"), "vec_id")
        )
    else:
        cand = screened.select("query_id", "vec_id").distinct()
        sides_q = emb.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
        scored = (
            cand.join(emb, "vec_id")
            .join(sides_q, "query_id")
            .withColumn(
                "cos",
                F.round(
                    cosine(F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")), 6
                ),
            )
        )
        nn = (
            # NULL cos = zero-norm vector: dropped here, so a degenerate
            # query loses every candidate and surfaces as an explicit
            # abstain row
            scored.filter(F.col("cos").isNotNull())
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
        )
    votes = nn.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).alias("n_votes"),
        F.max("cos").alias("best_cos"),
    )
    # true_label attaches once, at query granularity, in the corpus
    # left-join below — never on pair rows, and not on the vote table
    # either (it would be an n-row join dropped straight after)
    picked = _pick_knn_vote(votes)
    # "EVERY vector is classified" literally: a vector sharing no bucket
    # with anyone in ANY table has an empty candidate set and would
    # silently vanish from the inner pipeline above — left-join back from
    # the corpus and emit an explicit ABSTAIN row (null prediction,
    # n_votes 0) instead of dropping it.
    all_q = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        all_q.join(picked, "query_id", "left")
        .select(
            "query_id",
            "true_label",
            "predicted_label",
            F.coalesce(F.col("n_votes"), F.lit(0)).alias("n_votes"),
            "best_cos",
        )
        .orderBy("query_id")
    )
