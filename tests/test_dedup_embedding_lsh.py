"""Quality contract for dedup_embedding_lsh's LSH candidate stage.

The registry entry is oracle-exact at driver SFs via the size dispatch
(exact block-screen path); what needs pinning here is the LSH path itself:
  1. in the tight-threshold regime (cos ≥ 0.9 — where a production
     embedding-dedup runs), the LSH path's OUTPUT equals the exact path's
     output on a corpus with planted near-dups, and
  2. candidate volume grows sub-quadratically with corpus size (the whole
     point of the variant).
Planes are md5-derived and the corpora are seeded, so both pins are
deterministic — no flaky-recall tolerance needed.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from roar_spark.catalog import load_table
from roar_spark.operators.similarity import (
    _lsh_candidate_pairs,
    _with_norm,
    dedup_emb_planes_for,
    dedup_embedding_lsh,
)

DIM = 64
TIGHT_THRESHOLD = 0.9
N_PLANTED = 10
# The operator has one pair space, probe-free banding; tests that once
# ran per pair space keep it as their single parameter so their ids stay
# stable.
PAIR_SPACE = pytest.mark.parametrize("pair_space", ["probe_free"])


def _planted_dir(tmp_path_factory, n: int) -> str:
    """Seeded corpus: random unit vectors, with N_PLANTED near-dup pairs
    (ids (20i, 20i+1), noise 0.05 → cos ≈ 0.999). At threshold 0.9 only
    the planted pairs qualify: a background pair would need |cos| ≥ 0.9 ≈
    7σ of the N(0, 1/64) background cosine distribution."""
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((n, DIM))
    for i in range(0, N_PLANTED * 20, 20):
        noisy = vecs[i] + 0.05 * rng.standard_normal(DIM)
        vecs[i + 1] = noisy
    out = tmp_path_factory.mktemp(f"lsh_dedup_{n}")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    [v.astype("float32") for v in vecs], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * n, pa.int32()),
            }
        ),
        f"{out}/embeddings.parquet",
    )
    return str(out)


@PAIR_SPACE
def test_lsh_path_equals_exact_path_at_tight_threshold(spark, tmp_path_factory, pair_space):
    """The banded pair space (24 narrow tables, Hamming-0) must reproduce
    the exact path's output on the planted corpus at the tight
    threshold."""
    d = _planted_dir(tmp_path_factory, 2000)
    exact = dedup_embedding_lsh(spark, d, threshold=TIGHT_THRESHOLD, force_lsh=False).collect()
    lsh = dedup_embedding_lsh(spark, d, threshold=TIGHT_THRESHOLD, force_lsh=True).collect()
    assert [r.vec_id for r in exact] == [r.vec_id for r in lsh]
    # the corpus actually exercised the dedup: every planted larger id dropped
    kept = {r.vec_id for r in lsh}
    planted_dups = {i + 1 for i in range(0, N_PLANTED * 20, 20)}
    assert planted_dups.isdisjoint(kept)
    assert len(kept) == 2000 - N_PLANTED


@PAIR_SPACE
def test_staged_screen_equals_single_job_screen(spark, tmp_path_factory, pair_space):
    """The per-table STAGED screen (the single-box disk lever) must
    produce exactly the single-job screen's survivors — same pair space,
    same keep-set; only the peak live shuffle differs."""
    d = _planted_dir(tmp_path_factory, 2000)
    single = dedup_embedding_lsh(
        spark, d, threshold=TIGHT_THRESHOLD, force_lsh=True, force_staged=False
    ).collect()
    staged = dedup_embedding_lsh(
        spark, d, threshold=TIGHT_THRESHOLD, force_lsh=True, force_staged=True
    ).collect()
    assert [r.vec_id for r in single] == [r.vec_id for r in staged]
    kept = {r.vec_id for r in staged}
    assert {i + 1 for i in range(0, N_PLANTED * 20, 20)}.isdisjoint(kept)


def test_probe_free_screen_fanout_is_exactly_tables_per_vector(spark, tmp_path_factory):
    """The whole point of probe-free banding: the replicated screen
    payload is tables·n entries — no probe expansion, no plain/probe
    sides. A Hamming≤1 probed space fans out tables·(2 + ~planes/2)·n;
    at 16M that was 92 copies/vector and the repo's most expensive
    shuffle."""
    from roar_spark.operators.similarity import (
        DEDUP_EMB_TABLES_PF,
        _bucket_ids,
        _entries_from_buckets,
    )

    n = 500
    d = _planted_dir(tmp_path_factory, n)
    emb = load_table(spark, "embeddings", d)
    planes = 5
    wb = _bucket_ids(emb, planes, DIM, n_tables=DEDUP_EMB_TABLES_PF)
    cnt = _entries_from_buckets(
        wb, planes, probe=False, n_tables=DEDUP_EMB_TABLES_PF
    ).count()
    assert cnt == DEDUP_EMB_TABLES_PF * n


def test_candidate_volume_grows_subquadratically(spark, tmp_path_factory):
    """Candidate volume of the pair space the operator screens: exact
    (tbl, bkt) collisions over DEDUP_EMB_TABLES_PF tables at the
    operator's plane count."""
    counts = {}
    for n in (1000, 4000):
        d = _planted_dir(tmp_path_factory, n)
        emb = _with_norm(load_table(spark, "embeddings", d))
        counts[n] = _lsh_candidate_pairs(emb, dedup_emb_planes_for(n), DIM).count()
    # 4x the rows: quadratic candidates grow 16x; measured here 388,138 ->
    # 2,631,154 pairs = 6.8x (small-n saturation inflates the base: at
    # n=1000 78% of all pairs are candidates, 33% at n=4000). 12x is the
    # regression line: a quadratic rewrite trips it, measured noise
    # doesn't.
    assert counts[4000] < 12 * counts[1000], counts
    # and the candidate set is a strict subset of all pairs, not a rename
    assert counts[4000] < 0.5 * 4000 * 3999 / 2, counts


def test_lsh_path_plan_shape(spark):
    # the pair stage: the SORTED-STREAM MapInPandas screen (one Python
    # call per Arrow batch, not per bucket group) plus the hash matmul; no
    # per-group FlatMapGroupsInPandas, no row-at-a-time Python, no
    # cartesian/nested-loop join anywhere
    df = dedup_embedding_lsh(spark, "/root/testdata/sf0.001", force_lsh=True)
    p = df._jdf.queryExecution().executedPlan().toString()
    # exactly one stream-screen MapInPandas; the hash matmul MapInPandas
    # appears under the persisted bucket table's InMemoryTableScan (the
    # cached plan is PRINTED per consumer but computed once)
    assert p.count("MapInPandas screen_stream") == 1
    assert "FlatMapGroupsInPandas" not in p
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_dispatch_uses_exact_path_at_driver_sf(spark):
    # at sf0.01 (500 rows <= cutoff) the registry entry must take the
    # exact path: results match dedup_embedding exactly (same oracle)
    from roar_spark.operators.similarity import dedup_embedding

    sf = "/root/testdata/sf0.01"
    a = [r.vec_id for r in dedup_embedding(spark, sf).collect()]
    b = [r.vec_id for r in dedup_embedding_lsh(spark, sf).collect()]
    assert a == b


@pytest.mark.parametrize("dim", [8, 64, 256, 1024])
def test_quantized_screen_margin_covers_renormalized_drift(dim):
    """The screen margin must bound the cos drift of what the kernel
    ACTUALLY compares — the renormalized int8-quantized vectors
    (_unit_rows(q) in the pair-stage screen) — not the raw q/127 error.
    Renormalization can EXPAND the error (radial projection is not a
    contraction inside the sphere), so the margin carries the 1/(1−ε/2)
    norm-ratio factor (r6 ADVICE). Pure numpy, no Spark: measure the
    empirical worst-case drift over random and adversarial (axis-aligned,
    all-equal, near-half-step) unit vectors and assert it stays inside
    the shipped margin at every dim."""
    from roar_spark.operators.similarity import _unit_rows

    rng = np.random.default_rng(dim)
    vecs = [rng.standard_normal((4000, dim))]
    # Adversarial rows must be EXACT unit vectors, or _unit_rows'
    # renormalization shifts the coordinates off the half-steps and
    # neutralizes them (r7 review caught a previous construction doing
    # exactly that). Build rows with dim-1 coordinates at (m+0.5)/127 —
    # worst-case rounding error per coordinate — and the last coordinate
    # absorbing the norm so the row is unit by construction.
    for mm in (0, 1, 3):
        c = (mm + 0.5) / 127.0
        if (dim - 1) * c * c >= 1.0:
            continue
        row = np.full(dim, c)
        row[-1] = np.sqrt(1.0 - (dim - 1) * c * c)
        vecs.append(row[None, :])
        flipped = row.copy()
        flipped[: dim // 2] *= -1.0  # error directions disagree pairwise
        vecs.append(flipped[None, :])
    eye = np.eye(dim)[:8]
    vecs.append(eye + rng.standard_normal((8, dim)) * 1e-3)
    m = _unit_rows(np.vstack(vecs))

    q = np.round(127.0 * m)
    uq = _unit_rows(q)
    true_cos = m @ m.T
    quant_cos = uq @ uq.T
    worst = float(np.max(np.abs(true_cos - quant_cos)))

    eps = np.sqrt(dim) * (0.5 / 127.0)
    margin = 2.0 * eps / max(1.0 - eps / 2.0, 0.5) + 1e-6
    assert worst <= margin, (worst, margin, dim)


# ---------------------------------------------------------------------------
# Near-threshold recall pin: probe-free banding trades wide-angle recall
# for 2-4x cost against the deleted Hamming≤1 probed space (documented in
# SCALE.md: cos 0.90 candidate recall .863 -> .782 at the 16M config), but
# only the >=0.999-cos regime was test-pinned — a future config change
# could erode mid-threshold recall silently. These pins run the FULL
# operator with the banding config it would pick at 16M rows
# (force_corpus_rows — pair recall depends only on the pair's own codes,
# never on occupancy), plant pairs at exact cosines around the 0.9
# threshold, and assert empirical recall against BOTH the closed-form
# model (model validity through the real operator) and a FIXED floor
# (the r10-documented numbers minus 2 pts — a config that erodes recall
# trips this even if the model tracks the change).
# ---------------------------------------------------------------------------

RECALL_CORPUS_ROWS = 16_000_000  # derive the 16M banding config
# r10-documented candidate recall at the 16M config (SCALE.md r10 table),
# minus the verdict's 2-pt tolerance: the hard floor a config change may
# not silently cross.
RECALL_FLOORS = {0.90: 0.782 - 0.02, 0.93: 0.921 - 0.02, 0.95: 0.978 - 0.02}


def _planted_cos_dir(tmp_path_factory, n_pairs: int, cos: float) -> str:
    """Corpus of 2*n_pairs rows: rows (2i, 2i+1) have EXACT pairwise
    cosine `cos` (orthogonal-component construction, the lsh_recall_sweep
    recipe); cross-pair background cosines are N(0, 1/64) — never near
    0.9. Seeded by the cosine so corpora are deterministic."""
    import math

    rng = np.random.default_rng(int(cos * 1000))
    a = rng.standard_normal((n_pairs, DIM))
    a /= np.linalg.norm(a, axis=1, keepdims=True)
    g = rng.standard_normal((n_pairs, DIM))
    g -= (g * a).sum(axis=1, keepdims=True) * a
    g /= np.linalg.norm(g, axis=1, keepdims=True)
    b = cos * a + math.sqrt(1.0 - cos * cos) * g
    vecs = np.empty((2 * n_pairs, DIM))
    vecs[0::2] = a
    vecs[1::2] = b
    out = tmp_path_factory.mktemp(f"lsh_recall_{int(cos * 100)}")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(2 * n_pairs), pa.int64()),
                "embedding": pa.array(
                    [v.astype("float32") for v in vecs], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * (2 * n_pairs), pa.int32()),
            }
        ),
        f"{out}/embeddings.parquet",
    )
    return str(out)


@PAIR_SPACE
@pytest.mark.parametrize("cos", [0.90, 0.93, 0.95])
def test_near_threshold_recall_pinned_at_scale_config(
    spark, tmp_path_factory, pair_space, cos
):
    from roar_spark.operators.similarity import DEDUP_EMB_TABLES_PF
    from tools.lsh_recall_sweep import model

    n_pairs = 1000
    d = _planted_cos_dir(tmp_path_factory, n_pairs, cos)
    # threshold just under the planted cosine: every DETECTED candidate
    # passes the exact recheck, so missing dups measure candidate recall
    kept = {
        r.vec_id
        for r in dedup_embedding_lsh(
            spark,
            d,
            threshold=cos - 0.005,
            force_lsh=True,
            force_corpus_rows=RECALL_CORPUS_ROWS,
        ).collect()
    }
    detected = sum(1 for i in range(n_pairs) if 2 * i + 1 not in kept)
    recall = detected / n_pairs
    # (1) model validity through the full operator
    planes = dedup_emb_planes_for(RECALL_CORPUS_ROWS)
    expected = model(cos, DEDUP_EMB_TABLES_PF, planes, False)
    assert recall >= expected - 0.02, (recall, expected, pair_space, cos)
    # (2) the fixed documented floor — catches a silent config erosion
    # even when the model tracks the new config
    assert recall >= RECALL_FLOORS[cos], (recall, pair_space, cos)
