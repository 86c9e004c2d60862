"""Registry section 2: LLM-data-pipeline operators (dedup, similarity,
text analysis, multimodal) with their DuckDB oracles.

The oracle SQL mirrors the exact portable primitives the Spark operators
use (md5-based hashing, ordered double folds, integer ratio rounding) —
see functions/text_fns.py and functions/vector.py for why each is
cross-engine deterministic. SQL for simhash/minhash is generated
programmatically (32 bit-aggregates / 8 minhash mins are mechanical).
"""

from __future__ import annotations

from roar_spark.operators import dedup as D
from roar_spark.operators import multimodal as M
from roar_spark.operators import similarity as S
from roar_spark.operators import text as X
from roar_spark.operators.dedup import N_BANDS, N_MINHASH, SIMHASH_BITS, SIMHASH_HAMMING

# --- shared SQL fragments -------------------------------------------------

_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"

# hashed-feature bucket of one token t — md5 last two hex digits mod 64;
# shared by the text_hashing_features and text_tfidf oracles so the
# feature space cannot drift between them (mirror: operators/text.py
# _hashed_tf)
_BUCKET = (
    "((strpos('0123456789abcdef', substr(md5(t), 31, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substr(md5(t), 32, 1)) - 1) % 64"
)

_SHINGLE_CTES = f"""
    tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        FROM tok WHERE len(t) >= 3) raw),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    jac AS (
      SELECT doc_id_a, doc_id_b,
             round(CAST(n_common AS DOUBLE)
                   / CAST(sa.n + sb.n - n_common AS DOUBLE), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON doc_id_a = sa.doc_id
      JOIN sizes sb ON doc_id_b = sb.doc_id)
"""

# ordered left-fold dot product in double (matches functions/vector.py)
def _dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


_EMB_NORM_CTE = f"""
    e AS (SELECT vec_id, embedding,
                 sqrt({_dot('embedding', 'embedding')}) AS nrm
          FROM embeddings)
"""

PIPELINE_ORACLES: dict[str, str] = {}
PIPELINE_QUERIES = {
    "dedup_exact": D.dedup_exact,
    "dedup_ngram_jaccard": D.dedup_ngram_jaccard,
    "dedup_minhash_lsh": D.dedup_minhash_lsh,
    "dedup_simhash": D.dedup_simhash,
    "dedup_clusters": D.dedup_clusters,
    "dedup_clusters_star": D.dedup_clusters_star,
    "dedup_decontaminate": D.dedup_decontaminate,
    "sim_brute_topk": S.sim_brute_topk,
    "sim_cosine_pairs": S.sim_cosine_pairs,
    "dedup_embedding": S.dedup_embedding,
    "ann_lsh_topk": S.ann_lsh_topk,  # deterministic md5 planes → exact oracle below
    "ann_ivf_topk": S.ann_ivf_topk,  # deterministic centroids → exact oracle below
    "text_stats": X.text_stats,
    "text_hashing_features": X.text_hashing_features,
    "text_top_tokens": X.text_top_tokens,
    "text_langid": X.text_langid,
    "text_fingerprint": X.text_fingerprint,
    "multimodal_meta": M.multimodal_meta,
    "multimodal_decode_stub": M.multimodal_decode_stub,  # STUB codec → rows-only
    "multimodal_frame_sample": M.multimodal_frame_sample,
}

PIPELINE_ORACLES["dedup_exact"] = """
    SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text) ORDER BY text_md5
"""

PIPELINE_ORACLES["dedup_ngram_jaccard"] = f"""
    WITH {_SHINGLE_CTES}
    SELECT doc_id_a, doc_id_b, jaccard FROM jac
    WHERE jaccard >= 0.5 ORDER BY doc_id_a, doc_id_b
"""

_rows_per_band = N_MINHASH // N_BANDS
_sig_cols = ",\n             ".join(
    f"MIN(substr(md5('{j}|' || s), 1, 16)) AS h{j}" for j in range(N_MINHASH)
)
_band_selects = "\n      UNION ALL ".join(
    "SELECT doc_id, {b} AS band, {key} AS band_key FROM sig".format(
        b=b,
        key=" || ".join(f"h{b * _rows_per_band + r}" for r in range(_rows_per_band)),
    )
    for b in range(N_BANDS)
)
PIPELINE_ORACLES["dedup_minhash_lsh"] = f"""
    WITH {_SHINGLE_CTES},
    sig AS (SELECT doc_id,
             {_sig_cols}
            FROM sh GROUP BY doc_id),
    bands AS (
      {_band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id)
    SELECT c.doc_id_a, c.doc_id_b, j.jaccard
    FROM cand c JOIN jac j ON c.doc_id_a = j.doc_id_a AND c.doc_id_b = j.doc_id_b
    WHERE j.jaccard >= 0.5
    ORDER BY c.doc_id_a, c.doc_id_b
"""

_bit_sums = ",\n           ".join(
    "SUM(((((strpos('0123456789abcdef', substr(h, {d}, 1)) - 1) // {p}) % 2) * 2) - 1)"
    " AS s{b}".format(d=b // 4 + 1, p=2 ** (b % 4), b=b)
    for b in range(SIMHASH_BITS)
)
_sim_terms = " + ".join(
    f"CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END" for b in range(SIMHASH_BITS)
)
PIPELINE_ORACLES["dedup_clusters"] = f"""
    WITH RECURSIVE {_SHINGLE_CTES},
    pairs AS (
      SELECT doc_id_a, doc_id_b FROM jac WHERE jaccard >= 0.5),
    edges AS (
      SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
      UNION ALL
      SELECT doc_id_b, doc_id_a FROM pairs),
    reach(doc_id, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.doc_id)
    SELECT doc_id, MIN(root) AS cluster_id
    FROM reach GROUP BY doc_id ORDER BY doc_id
"""

# same contract, same oracle: connected components over the verified
# jaccard pair graph, labeled by component-min doc_id (the algorithm —
# star rounds vs min-label BSP — is invisible to the result)
PIPELINE_ORACLES["dedup_clusters_star"] = PIPELINE_ORACLES["dedup_clusters"]

PIPELINE_ORACLES["dedup_simhash"] = f"""
    WITH tok AS (
      SELECT doc_id, md5(unnest({_TOKS})) AS h FROM documents),
    bits AS (
      SELECT doc_id,
           {_bit_sums}
      FROM tok GROUP BY doc_id),
    sig AS (SELECT doc_id, CAST({_sim_terms} AS BIGINT) AS simhash FROM bits)
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING}
    ORDER BY doc_id_a, doc_id_b
"""

PIPELINE_ORACLES["sim_brute_topk"] = f"""
    WITH {_EMB_NORM_CTE},
    q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
          FROM e WHERE vec_id < {S.N_QUERIES}),
    scored AS (
      SELECT query_id, vec_id,
             round({_dot('q_emb', 'embedding')} / (q_nrm * nrm), 6) AS cos
      FROM e CROSS JOIN q WHERE vec_id != query_id),
    ranked AS (
      SELECT query_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id ASC) AS rank
      FROM scored)
    SELECT query_id, rank, vec_id AS neighbor_id, cos
    FROM ranked WHERE rank <= {S.TOP_K}
    ORDER BY query_id, rank
"""

PIPELINE_ORACLES["sim_cosine_pairs"] = f"""
    WITH {_EMB_NORM_CTE}
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           round({_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm), 6) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round({_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm), 6) >= 0.4
    ORDER BY vec_id_a, vec_id_b
"""

PIPELINE_ORACLES["dedup_embedding"] = f"""
    WITH {_EMB_NORM_CTE},
    pairs AS (
      SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE round({_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm), 6)
            >= {S.COSINE_THRESHOLD})
    SELECT vec_id FROM e
    WHERE vec_id NOT IN (SELECT vec_id_b FROM pairs)
    ORDER BY vec_id
"""

# Same exact-semantics oracle: at driver SFs the size dispatch runs the
# exact block-screen path (the dedup_simhash dual-path pattern); the LSH
# candidate stage engages only beyond DEDUP_EMB_ALLPAIRS_MAX_ROWS, where
# its tight-threshold equivalence is pinned by tests instead.
PIPELINE_QUERIES["dedup_embedding_lsh"] = S.dedup_embedding_lsh
PIPELINE_ORACLES["dedup_embedding_lsh"] = PIPELINE_ORACLES["dedup_embedding"]

# ann_lsh_topk is "approximate" only in the ANN sense (candidate set ≠ full
# corpus); every ingredient is a pure deterministic function — md5-derived
# hyperplanes (similarity.py _plane_weights), sign-bit bucket packing,
# Hamming-1 probes, exact ordered-fold cosine, total tie-break — so the
# whole query IS SQL-expressible and gets a real value-hash oracle. Plane
# count is derived from COUNT(*) exactly as n_planes_for does. The one
# cross-engine hazard is the bucket-bit sign: Spark computes the projection
# in a numpy matmul (pairwise summation) while SQL SUM folds sequentially —
# a sign can only differ when |dot| is within float-noise of zero
# (|dot| ~ 30 here, P ≈ 1e-13 per bit, and both engines are deterministic
# on a fixed corpus, so green-once is green-always).
PIPELINE_ORACLES["ann_lsh_topk"] = f"""
    WITH {_EMB_NORM_CTE},
    params AS (
      SELECT LEAST({S._MAX_PLANES}, GREATEST({S._MIN_PLANES},
               CAST(ceil(log2(COUNT(*) / {S.TARGET_BUCKET_DOCS}.0)) AS INTEGER))) AS n_planes,
             MAX(len(embedding)) AS dim
      FROM embeddings),
    w AS (
      SELECT t.t, p.p, d.d,
             CAST(strpos('0123456789abcdef',
                  substring(md5(CAST(t.t AS VARCHAR) || ':' || CAST(p.p AS VARCHAR)
                                || ':' || CAST(d.d AS VARCHAR)),
                            (d.d % 28) + 1, 1)) - 1 AS DOUBLE) - 7.5 AS wt
      FROM (SELECT UNNEST(range({S.N_TABLES})) AS t) t,
           (SELECT UNNEST(range((SELECT n_planes FROM params))) AS p) p,
           (SELECT UNNEST(range((SELECT dim FROM params))) AS d) d),
    bits AS (
      SELECT v.vec_id, w.t, w.p,
             CASE WHEN SUM(CAST(v.embedding[w.d + 1] AS DOUBLE) * w.wt) > 0
                  THEN 1 ELSE 0 END AS bit
      FROM embeddings v, w
      GROUP BY v.vec_id, w.t, w.p),
    bkt AS (
      SELECT vec_id, t, SUM(CAST(bit AS BIGINT) << p) AS bkt
      FROM bits GROUP BY vec_id, t),
    probes AS (
      SELECT b.vec_id AS query_id, b.t,
             CASE WHEN f.f < 0 THEN b.bkt
                  ELSE xor(b.bkt, CAST(1 AS BIGINT) << f.f) END AS bkt
      FROM bkt b,
           (SELECT UNNEST(range(-1, (SELECT n_planes FROM params))) AS f) f
      WHERE b.vec_id < {S.N_QUERIES}),
    cand AS (
      SELECT DISTINCT p.query_id, c.vec_id
      FROM probes p JOIN bkt c ON p.t = c.t AND p.bkt = c.bkt
      WHERE c.vec_id != p.query_id),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             round({_dot('q.embedding', 'v.embedding')} / (q.nrm * v.nrm), 6) AS cos
      FROM cand
      JOIN e q ON q.vec_id = cand.query_id
      JOIN e v ON v.vec_id = cand.vec_id),
    ranked AS (
      SELECT query_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id ASC) AS rank,
             vec_id AS neighbor_id, cos
      FROM scored)
    SELECT query_id, rank, neighbor_id, cos FROM ranked
    WHERE rank <= 3 ORDER BY query_id, rank
"""

# ann_ivf_topk: same determinism argument. Centroids are the ⌈√n⌉ (≤ cap)
# corpus vectors with the smallest md5(vec_id) 8-hex-digit prefix (the
# conv() is re-expressed as a positional hex fold); the HIERARCHICAL
# assignment (supers = the first ⌈√C⌉ of the same hash ordering; each
# centroid in its IVF_CENT_FAN nearest super-groups; each vector scores
# only the union of its fan nearest supers' groups — similarity.py
# constants block) is mirrored clause-for-clause: every pruning step is a
# rank-≤-k window with the same total tie-break the numpy stable argsort
# uses (cos DESC, id ASC). Assignment cosines: numpy normalizes then
# multiplies, SQL folds then divides — ulp-level divergence can only matter
# on an exact tie at a fan/k boundary (none on a fixed corpus;
# deterministic).
PIPELINE_ORACLES["ann_ivf_topk"] = f"""
    WITH {_EMB_NORM_CTE},
    params AS (
      SELECT LEAST({S._MAX_CENTROIDS}, GREATEST(4,
               CAST(ceil(sqrt(COUNT(*))) AS INTEGER))) AS n_cent,
             GREATEST(1, CAST(ceil(sqrt(LEAST({S._MAX_CENTROIDS}, GREATEST(4,
               CAST(ceil(sqrt(COUNT(*))) AS INTEGER))))) AS INTEGER)) AS n_sup
      FROM embeddings),
    hashed AS (
      SELECT vec_id,
             list_reduce(list_transform(range(1, 9),
               i -> CAST(strpos('0123456789abcdef',
                         substring(md5(CAST(vec_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
                    * (CAST(1 AS BIGINT) << (4 * (8 - i)))), (x, y) -> x + y) AS h
      FROM embeddings),
    cent_ranked AS (
      SELECT e.vec_id AS cent_id, e.embedding, e.nrm,
             ROW_NUMBER() OVER (ORDER BY hashed.h, hashed.vec_id) AS hrank
      FROM hashed JOIN e ON e.vec_id = hashed.vec_id),
    cent AS (
      SELECT cent_id, embedding, nrm FROM cent_ranked
      WHERE hrank <= (SELECT n_cent FROM params)),
    sup AS (
      SELECT cent_id AS super_id, embedding, nrm FROM cent_ranked
      WHERE hrank <= (SELECT n_sup FROM params)),
    cent_sup AS (
      SELECT cent_id, super_id FROM (
        SELECT c.cent_id, s.super_id,
               ROW_NUMBER() OVER (PARTITION BY c.cent_id
                 ORDER BY {_dot('c.embedding', 's.embedding')} / (c.nrm * s.nrm) DESC,
                          s.super_id ASC) AS rn
        FROM cent c CROSS JOIN sup s)
      WHERE rn <= {S.IVF_CENT_FAN}),
    vec_sup AS (
      SELECT vec_id, super_id, rn FROM (
        SELECT v.vec_id, s.super_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {_dot('v.embedding', 's.embedding')} / (v.nrm * s.nrm) DESC,
                          s.super_id ASC) AS rn
        FROM e v CROSS JOIN sup s)),
    assign_scored AS (
      -- corpus CELL assignment: every vector (queries included) scores the
      -- union of its IVF_VEC_SUPERS nearest supers' member groups
      SELECT p.vec_id, p.cent_id,
             {_dot('v.embedding', 'c.embedding')} / (v.nrm * c.nrm) AS ccos
      FROM (SELECT DISTINCT vs.vec_id, cs.cent_id
            FROM vec_sup vs JOIN cent_sup cs ON cs.super_id = vs.super_id
            WHERE vs.rn <= {S.IVF_VEC_SUPERS}) p
      JOIN e v ON v.vec_id = p.vec_id
      JOIN cent c ON c.cent_id = p.cent_id),
    cells AS (
      SELECT vec_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY ccos DESC, cent_id ASC) AS rn
        FROM assign_scored)
      WHERE rn <= {S.IVF_ASSIGN}),
    query_scored AS (
      -- query PROBE assignment: wider fan (IVF_QUERY_SUPERS), queries only
      SELECT p.vec_id, p.cent_id,
             {_dot('v.embedding', 'c.embedding')} / (v.nrm * c.nrm) AS ccos
      FROM (SELECT DISTINCT vs.vec_id, cs.cent_id
            FROM vec_sup vs JOIN cent_sup cs ON cs.super_id = vs.super_id
            WHERE vs.rn <= {S.IVF_QUERY_SUPERS}
              AND vs.vec_id < {S.N_QUERIES}) p
      JOIN e v ON v.vec_id = p.vec_id
      JOIN cent c ON c.cent_id = p.cent_id),
    qprobes AS (
      SELECT vec_id AS query_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY ccos DESC, cent_id ASC) AS rn
        FROM query_scored)
      WHERE rn <= {S.IVF_NPROBE}),
    cand AS (
      SELECT DISTINCT q.query_id, c.vec_id
      FROM qprobes q JOIN cells c ON q.cell = c.cell
      WHERE c.vec_id != q.query_id),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             round({_dot('q.embedding', 'v.embedding')} / (q.nrm * v.nrm), 6) AS cos
      FROM cand
      JOIN e q ON q.vec_id = cand.query_id
      JOIN e v ON v.vec_id = cand.vec_id),
    ranked AS (
      SELECT query_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id ASC) AS rank,
             vec_id AS neighbor_id, cos
      FROM scored)
    SELECT query_id, rank, neighbor_id, cos FROM ranked
    WHERE rank <= 3 ORDER BY query_id, rank
"""

PIPELINE_ORACLES["multimodal_frame_sample"] = """
    WITH f AS (
      SELECT doc_id, text, LENGTH(text) AS n_chars,
             LEAST(4, 1 + LENGTH(text) % 7) AS n_frames,
             1000 * (1 + LENGTH(text) % 60) AS duration_ms
      FROM documents),
    k AS (
      SELECT doc_id, text, n_chars, n_frames, duration_ms,
             unnest(range(0, n_frames)) AS frame_idx
      FROM f)
    SELECT doc_id,
           CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(frame_idx * duration_ms // n_frames AS BIGINT) AS frame_ts_ms,
           md5(substr(text, CAST(1 + (frame_idx * 37) % GREATEST(n_chars - 15, 1) AS BIGINT), 16))
             AS frame_md5
    FROM k
    ORDER BY doc_id, frame_idx
"""

PIPELINE_ORACLES["text_hashing_features"] = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
    h AS (
      SELECT doc_id,
             {_BUCKET} AS bucket
      FROM tok)
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_tokens
    FROM h GROUP BY 1, 2 ORDER BY 1, 2
"""

PIPELINE_ORACLES["dedup_decontaminate"] = f"""
    WITH {_SHINGLE_CTES},
    train AS (SELECT doc_id, s FROM sh WHERE doc_id % 100 != 0),
    ev AS (SELECT doc_id AS eval_doc_id, s FROM sh WHERE doc_id % 100 = 0)
    SELECT train.doc_id,
           COUNT(DISTINCT eval_doc_id) AS n_eval_docs_hit,
           COUNT(DISTINCT s) AS n_shared_shingles
    FROM train JOIN ev USING (s)
    GROUP BY train.doc_id
    ORDER BY train.doc_id
"""

PIPELINE_ORACLES["text_top_tokens"] = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
    SELECT t AS token, COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM tok GROUP BY t
    ORDER BY n_occurrences DESC, token
    LIMIT 50
"""

_EN = "['the','and','of','to','a','in','is','it']"
_ES = "['el','la','de','los','que','y','en','un']"
_DE = "['der','die','das','und','ist','von','ein','mit']"

PIPELINE_ORACLES["text_stats"] = f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           LENGTH(text) AS n_chars,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct_tokens,
           round(CAST(len(list_distinct(toks)) AS DOUBLE)
                 / CAST(len(toks) AS DOUBLE), 6) AS type_token_ratio,
           round(CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                 / CAST(NULLIF(LENGTH(text), 0) AS DOUBLE), 6) AS punct_ratio,
           round(CAST(len(list_filter(toks, x -> list_contains({_EN}, x))) AS DOUBLE)
                 / CAST(len(toks) AS DOUBLE), 6) AS stopword_ratio,
           round(CAST(LENGTH(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
                 / CAST(len(toks) AS DOUBLE), 6) AS mean_token_len
    FROM t ORDER BY doc_id
"""

PIPELINE_ORACLES["text_langid"] = f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, lang,
                 len(list_filter(toks, x -> list_contains({_EN}, x))) AS score_en,
                 len(list_filter(toks, x -> list_contains({_ES}, x))) AS score_es,
                 len(list_filter(toks, x -> list_contains({_DE}, x))) AS score_de
          FROM t)
    SELECT doc_id, score_en, score_es, score_de,
           CASE WHEN score_en >= score_es AND score_en >= score_de THEN 'en'
                WHEN score_es >= score_de THEN 'es'
                ELSE 'de' END AS lang_pred,
           lang AS lang_tagged
    FROM s ORDER BY doc_id
"""

PIPELINE_ORACLES["text_fingerprint"] = """
    WITH n AS (SELECT doc_id,
                trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'),
                                    '\\s+', ' ', 'g')) AS norm
               FROM documents)
    SELECT doc_id, md5(norm) AS fingerprint, LENGTH(norm) AS n_norm_chars
    FROM n ORDER BY doc_id
"""

PIPELINE_ORACLES["multimodal_meta"] = """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           substr(hex(encode(text)), 1, 8) AS magic_hex,
           md5(text) AS payload_md5
    FROM documents ORDER BY doc_id
"""

PIPELINE_QUERIES["text_bpe_tokens"] = X.text_bpe_tokens
_BPE_SQL = X.BPE_PATTERN.replace("'", "''")  # escape the apostrophes for SQL
PIPELINE_ORACLES["text_bpe_tokens"] = f"""
    WITH t AS (SELECT doc_id, text,
                regexp_extract_all(text, '{_BPE_SQL}') AS bpe,
                {_TOKS} AS ws
               FROM documents)
    SELECT doc_id,
           len(bpe) AS n_bpe_tokens,
           len(ws) AS n_ws_tokens,
           round(CAST(len(bpe) AS DOUBLE) / CAST(len(ws) AS DOUBLE), 6) AS bpe_per_word,
           bpe[1] AS first_bpe_token
    FROM t ORDER BY doc_id
"""

PIPELINE_QUERIES["text_gopher_quality"] = X.text_gopher_quality
PIPELINE_ORACLES["text_gopher_quality"] = f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    base AS (
      SELECT doc_id, len(t) AS n_tokens,
             round(CAST(len(list_filter(t, x -> regexp_matches(x, '^[a-z]+$'))) AS DOUBLE)
                   / CAST(len(t) AS DOUBLE), 6) AS alpha_ratio
      FROM tok),
    bg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(t)),
                            i -> t[i] || ' ' || t[i+1])) AS g
      FROM tok WHERE len(t) >= 2),
    bgc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    bga AS (SELECT doc_id,
                   round(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
                     AS top_bigram_frac
            FROM bgc GROUP BY doc_id),
    tg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      FROM tok WHERE len(t) >= 3),
    tgc AS (SELECT doc_id, g, COUNT(*) AS c FROM tg GROUP BY 1, 2),
    tga AS (SELECT doc_id,
                   round(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                         / CAST(SUM(c) AS DOUBLE), 6) AS dup_trigram_frac
            FROM tgc GROUP BY doc_id)
    SELECT b.doc_id, b.n_tokens,
           COALESCE(bga.top_bigram_frac, 0.0) AS top_bigram_frac,
           COALESCE(tga.dup_trigram_frac, 0.0) AS dup_trigram_frac,
           b.alpha_ratio,
           (b.n_tokens >= {X.GOPHER_MIN_TOKENS}
            AND b.n_tokens <= {X.GOPHER_MAX_TOKENS}
            AND COALESCE(bga.top_bigram_frac, 0.0) <= {X.GOPHER_MAX_TOP_BIGRAM_FRAC}
            AND COALESCE(tga.dup_trigram_frac, 0.0) <= {X.GOPHER_MAX_DUP_TRIGRAM_FRAC})
             AS gopher_pass
    FROM base b
    LEFT JOIN bga ON b.doc_id = bga.doc_id
    LEFT JOIN tga ON b.doc_id = tga.doc_id
    ORDER BY b.doc_id
"""

PIPELINE_QUERIES["embedding_quantize"] = S.embedding_quantize
PIPELINE_ORACLES["embedding_quantize"] = """
    WITH e AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
               AS abs_max
      FROM embeddings)
    SELECT vec_id, round(abs_max, 6) AS abs_max,
           array_to_string(list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / abs_max) + 0.5) AS INTEGER)), ',')
             AS q_embedding
    FROM e ORDER BY vec_id
"""

# --- round-2 additions: PII scrub, boilerplate n-grams, sequence packing ---

from roar_spark.operators import packing as P  # noqa: E402

PIPELINE_QUERIES["text_pii_scrub"] = X.text_pii_scrub
PIPELINE_ORACLES["text_pii_scrub"] = f"""
    WITH p AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 = 0
                  THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
                  ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                  THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                       || '.' || CAST(doc_id % 100 AS VARCHAR)
                  ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                  THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END AS planted
      FROM documents),
    s AS (
      SELECT doc_id, planted,
             regexp_replace(
               regexp_replace(
                 regexp_replace(planted, '{X.PII_EMAIL_RE}', '<EMAIL>', 'g'),
                 '{X.PII_PHONE_RE}', '<PHONE>', 'g'),
               '{X.PII_IP_RE}', '<IP>', 'g') AS scrubbed
      FROM p)
    SELECT doc_id,
           len(regexp_extract_all(planted, '{X.PII_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(planted, '{X.PII_PHONE_RE}')) AS n_phones,
           len(regexp_extract_all(planted, '{X.PII_IP_RE}')) AS n_ips,
           md5(scrubbed) AS scrubbed_md5,
           LENGTH(scrubbed) AS scrubbed_len
    FROM s ORDER BY doc_id
"""

PIPELINE_QUERIES["text_dup_ngrams"] = X.text_dup_ngrams
PIPELINE_ORACLES["text_dup_ngrams"] = f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        FROM tok WHERE len(t) >= 3) raw),
    freq AS (SELECT s, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY s)
    SELECT doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles,
           round(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
    FROM sh JOIN freq USING (s)
    GROUP BY doc_id ORDER BY doc_id
"""

PIPELINE_QUERIES["pack_sequences"] = P.pack_sequences
PIPELINE_ORACLES["pack_sequences"] = f"""
    WITH d AS (SELECT source, doc_id, len({_TOKS}) AS n_tok FROM documents
               WHERE text IS NOT NULL),
    laid AS (
      SELECT source, doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
      FROM d),
    spans AS (
      SELECT source, doc_id, st, st + n_tok AS en,
             unnest(generate_series(CAST(st // {P.PACK_WINDOW} AS BIGINT),
                                    CAST((st + n_tok - 1) // {P.PACK_WINDOW} AS BIGINT)))
               AS window_id
      FROM laid)
    SELECT source, CAST(window_id AS BIGINT) AS window_id,
           COUNT(*) AS n_docs,
           CAST(SUM(LEAST(en, (window_id + 1) * {P.PACK_WINDOW})
                    - GREATEST(st, window_id * {P.PACK_WINDOW})) AS BIGINT)
             AS window_tokens
    FROM spans GROUP BY 1, 2 ORDER BY 1, 2
"""

PIPELINE_QUERIES["text_chunk"] = X.text_chunk
PIPELINE_ORACLES["text_chunk"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    c AS (SELECT doc_id, toks, len(toks) AS n,
                 CASE WHEN len(toks) <= {X.CHUNK_TOKENS} THEN CAST(1 AS BIGINT)
                      ELSE 1 + (len(toks) - {X.CHUNK_TOKENS} + {X.CHUNK_STRIDE - 1})
                               // {X.CHUNK_STRIDE} END AS nc
          FROM t),
    e AS (SELECT doc_id, toks, unnest(range(nc)) AS chunk_id FROM c),
    s AS (SELECT doc_id, chunk_id,
                 list_slice(toks, chunk_id * {X.CHUNK_STRIDE} + 1,
                            chunk_id * {X.CHUNK_STRIDE} + {X.CHUNK_TOKENS}) AS sl
          FROM e)
    SELECT doc_id, chunk_id,
           chunk_id * {X.CHUNK_STRIDE} AS start_tok,
           len(sl) AS n_chunk_tokens,
           md5(array_to_string(sl, ' ')) AS chunk_md5
    FROM s ORDER BY doc_id, chunk_id
"""

PIPELINE_QUERIES["embedding_label_centroids"] = S.embedding_label_centroids
PIPELINE_ORACLES["embedding_label_centroids"] = f"""
    WITH x AS (
      SELECT label,
             unnest(list_transform(embedding,
                    (v, i) -> {{'dim': i - 1, 'v': v}})) AS u
      FROM embeddings),
    m AS (SELECT label, CAST(u.dim AS BIGINT) AS dim,
                 CAST(floor(CAST(u.v AS DOUBLE) * {S.CENTROID_MICRO_SCALE}
                            + 0.5) AS BIGINT) AS micro
          FROM x)
    SELECT label, dim, COUNT(*) AS n_vecs,
           CAST(SUM(micro) AS BIGINT) AS sum_micro,
           round(CAST(SUM(micro) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * {S.CENTROID_MICRO_SCALE}), 6)
             AS centroid
    FROM m GROUP BY label, dim ORDER BY label, dim
"""

PIPELINE_QUERIES["multimodal_resize_pool"] = M.multimodal_resize_pool


def _pool_sql() -> str:
    src, dst = M.POOL_SRC, M.POOL_DST
    px = lambda r, c: (  # noqa: E731
        f"ascii(substr(rpad(text, {src * src}, ' '), {r * src + c + 1}, 1))"
    )
    cells = [
        f"CAST({px(2*pr, 2*pc)} + {px(2*pr, 2*pc+1)} + {px(2*pr+1, 2*pc)}"
        f" + {px(2*pr+1, 2*pc+1)} AS BIGINT)"
        for pr in range(dst)
        for pc in range(dst)
    ]
    csv = "concat_ws(','," + ", ".join(f"CAST({c} AS VARCHAR)" for c in cells) + ")"
    total = " + ".join(f"({c})" for c in cells)
    return f"""
    WITH p AS (SELECT doc_id, {csv} AS pooled_csv, {total} AS total FROM documents)
    SELECT doc_id, pooled_csv, md5(pooled_csv) AS pooled_md5,
           round(CAST(total AS DOUBLE) / {src * src}, 6) AS mean_byte
    FROM p ORDER BY doc_id
"""


PIPELINE_ORACLES["multimodal_resize_pool"] = _pool_sql()


# --- k-NN label vote (classifier-inference pattern) -----------------------

from roar_spark.operators.similarity import KNN_K, N_QUERIES  # noqa: E402

PIPELINE_QUERIES["embedding_knn_classify"] = S.embedding_knn_classify
PIPELINE_ORACLES["embedding_knn_classify"] = f"""
    WITH e AS (SELECT vec_id, label, embedding,
                      sqrt({_dot('embedding', 'embedding')}) AS nrm
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS true_label,
                 embedding AS q_emb, nrm AS q_nrm
          FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, q.true_label, e.label, e.vec_id,
             round({_dot('q_emb', 'embedding')} / (q_nrm * nrm), 6) AS cos
      FROM e JOIN q ON e.vec_id <> q.query_id),
    nn AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rk
      FROM scored),
    votes AS (
      SELECT query_id, true_label, label,
             COUNT(*) AS n_votes, MAX(cos) AS best_cos
      FROM nn WHERE rk <= {KNN_K} GROUP BY 1, 2, 3),
    pick AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id
               ORDER BY n_votes DESC, best_cos DESC, label ASC) AS vrk
      FROM votes)
    SELECT query_id, true_label, label AS predicted_label, n_votes, best_cos
    FROM pick WHERE vrk = 1 ORDER BY query_id
"""

# embedding_knn_classify_bulk: the bulk twin — EVERY vector is a query, so
# candidates are the direct sign-LSH bucket collisions (no Hamming-1
# fan-out; plane weights / packing are the ann_lsh_topk oracle's
# verbatim). The operator's in-bucket matmul screen
# is a pure optimization, not a semantic: anything it drops sits strictly
# below its own bucket's top-k by more than the float margin, hence below
# the GLOBAL top-k (proof in _knn_screened_candidates), so the oracle may
# rank ALL collisions with the exact rounded cosine and reach identical
# votes. At driver SFs (≤ _BULK_EXACT_RERANK_CUTOFF rows) the operator
# reranks survivors with the same exact ordered-fold cosine this oracle
# uses — bit parity; above the cutoff it reranks on the screen's own
# float64 matmul cosine (round(·,6) absorbs the summation-order gap except
# on rounding-boundary hits — ≈ dim·1e-16 gap vs a 0.5e-6 boundary ≈ 1e-8
# per pair at dim 64, caveat in the operator docstring; output-equality
# pinned across the cutoff in tests/test_knn_tfidf_mix.py) so no
# embedding ever joins onto pair rows.
# The abstain contract (a vector sharing no bucket with anyone in
# any table keeps a null-prediction row with n_votes 0) is mirrored by the
# LEFT JOIN back from the corpus. Sign-bit hazard = ann_lsh_topk's
# (P ≈ 1e-13/bit; deterministic per fixed corpus).
PIPELINE_QUERIES["embedding_knn_classify_bulk"] = S.embedding_knn_classify_bulk
PIPELINE_ORACLES["embedding_knn_classify_bulk"] = f"""
    WITH e AS (SELECT vec_id, label, embedding,
                      sqrt({_dot('embedding', 'embedding')}) AS nrm
               FROM embeddings),
    params AS (
      SELECT LEAST({S._MAX_PLANES}, GREATEST({S._MIN_PLANES},
               CAST(ceil(log2(COUNT(*) / {S.TARGET_BUCKET_DOCS}.0)) AS INTEGER))) AS n_planes,
             MAX(len(embedding)) AS dim
      FROM embeddings),
    w AS (
      SELECT t.t, p.p, d.d,
             CAST(strpos('0123456789abcdef',
                  substring(md5(CAST(t.t AS VARCHAR) || ':' || CAST(p.p AS VARCHAR)
                                || ':' || CAST(d.d AS VARCHAR)),
                            (d.d % 28) + 1, 1)) - 1 AS DOUBLE) - 7.5 AS wt
      FROM (SELECT UNNEST(range({S.N_TABLES})) AS t) t,
           (SELECT UNNEST(range((SELECT n_planes FROM params))) AS p) p,
           (SELECT UNNEST(range((SELECT dim FROM params))) AS d) d),
    bits AS (
      SELECT v.vec_id, w.t, w.p,
             CASE WHEN SUM(CAST(v.embedding[w.d + 1] AS DOUBLE) * w.wt) > 0
                  THEN 1 ELSE 0 END AS bit
      FROM embeddings v, w
      GROUP BY v.vec_id, w.t, w.p),
    bkt AS (
      SELECT vec_id, t, SUM(CAST(bit AS BIGINT) << p) AS bkt
      FROM bits GROUP BY vec_id, t),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id
      FROM bkt q JOIN bkt c
        ON q.t = c.t AND q.bkt = c.bkt AND c.vec_id <> q.vec_id),
    scored AS (
      SELECT cand.query_id, ev.label, cand.vec_id,
             round({_dot('eq.embedding', 'ev.embedding')} / (eq.nrm * ev.nrm), 6) AS cos
      FROM cand
      JOIN e eq ON eq.vec_id = cand.query_id
      JOIN e ev ON ev.vec_id = cand.vec_id),
    nn AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rk
      FROM scored),
    votes AS (
      SELECT query_id, label, COUNT(*) AS n_votes, MAX(cos) AS best_cos
      FROM nn WHERE rk <= {KNN_K} GROUP BY 1, 2),
    pick AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id
               ORDER BY n_votes DESC, best_cos DESC, label ASC) AS vrk
      FROM votes)
    SELECT a.vec_id AS query_id, a.label AS true_label,
           pick.label AS predicted_label,
           COALESCE(pick.n_votes, 0) AS n_votes,
           pick.best_cos
    FROM embeddings a
    LEFT JOIN pick ON pick.query_id = a.vec_id AND pick.vrk = 1
    ORDER BY query_id
"""

# --- TF-IDF over the hashed feature space ---------------------------------

PIPELINE_QUERIES["text_tfidf"] = X.text_tfidf
PIPELINE_ORACLES["text_tfidf"] = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
    h AS (
      SELECT doc_id,
             {_BUCKET} AS bucket
      FROM tok),
    tf AS (
      SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS tf
      FROM h GROUP BY 1, 2),
    n AS (SELECT COUNT(*) AS n_corpus_docs FROM documents),
    idf AS (
      SELECT bucket, COUNT(*) AS df,
             round(ln((1.0 + n_corpus_docs) / (1.0 + COUNT(*))) + 1.0, 6) AS idf
      FROM tf CROSS JOIN n GROUP BY bucket, n_corpus_docs)
    SELECT tf.doc_id, tf.bucket, tf.tf, idf.df,
           round(tf.tf * idf.idf, 6) AS tfidf
    FROM tf JOIN idf USING (bucket)
    ORDER BY doc_id, bucket
"""

# --- multimodal feature extraction (Arrow-batched byte histogram) ---------

PIPELINE_QUERIES["multimodal_features"] = M.multimodal_features
# BYTE-based like the Spark kernel (np.frombuffer over the utf-8 payload):
# bytes are extracted portably via hex(encode(text)) two-hex-char slices, so
# non-ASCII text agrees between engines (encode → utf-8 bytes in both);
# anchored on documents with LEFT joins + COALESCE so an empty payload
# yields the same all-zero feature row the kernel emits.
PIPELINE_ORACLES["multimodal_features"] = """
    WITH src AS (
      SELECT doc_id, hex(encode(coalesce(text, ''))) AS h,
             octet_length(encode(coalesce(text, ''))) AS n_bytes
      FROM documents),
    b AS (
      SELECT doc_id,
             CAST(('0x' || substr(h, CAST(2 * i - 1 AS INT), 2)) AS INT) AS v
      FROM src, unnest(range(1, n_bytes + 1)) AS t(i)),
    counts AS (
      SELECT src.doc_id, g.bin, COUNT(b.v) AS cnt
      FROM src
      CROSS JOIN (SELECT unnest(range(0, 16)) AS bin) g
      LEFT JOIN b ON b.doc_id = src.doc_id AND b.v % 16 = g.bin
      GROUP BY src.doc_id, g.bin),
    hist AS (
      SELECT doc_id,
             string_agg(cnt, ',' ORDER BY bin) AS hist_csv
      FROM counts GROUP BY doc_id),
    top AS (
      SELECT doc_id, bin AS top_bin,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, bin ASC) AS rk
      FROM counts)
    SELECT src.doc_id,
           CAST(src.n_bytes AS BIGINT) AS n_bytes,
           CAST(COALESCE(SUM(b2.v), 0) AS BIGINT) AS sum_bytes,
           CAST(MIN(top.top_bin) AS INT) AS top_bin,
           MIN(hist.hist_csv) AS hist_csv
    FROM src
    LEFT JOIN b b2 ON b2.doc_id = src.doc_id
    JOIN hist ON hist.doc_id = src.doc_id
    JOIN top ON top.doc_id = src.doc_id AND top.rk = 1
    GROUP BY src.doc_id, src.n_bytes
    ORDER BY src.doc_id
"""


# --- round-11 addition: exact-substring span dedup (Lee et al. 2022) ---

PIPELINE_QUERIES["dedup_substring_spans"] = D.dedup_substring_spans
PIPELINE_ORACLES["dedup_substring_spans"] = f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    win AS (
      SELECT doc_id, i - 1 AS start,
             md5(array_to_string(
                   list_slice(t, i, i + {D.SUBSTRING_WINDOW} - 1), ' ')) AS wh
      FROM tok, unnest(range(1, len(t) - {D.SUBSTRING_WINDOW} + 2)) AS u(i)
      WHERE len(t) >= {D.SUBSTRING_WINDOW}),
    flagged AS (
      SELECT doc_id, start,
             min(doc_id) OVER (PARTITION BY wh) AS mn,
             max(doc_id) OVER (PARTITION BY wh) AS mx
      FROM win),
    isl AS (
      SELECT doc_id, start,
             CASE WHEN start > COALESCE(lag(start) OVER (PARTITION BY doc_id
                                                         ORDER BY start),
                                        -{D.SUBSTRING_WINDOW} - 1)
                              + {D.SUBSTRING_WINDOW}
                  THEN 1 ELSE 0 END AS brk
      FROM flagged WHERE mn <> mx),
    grp AS (
      SELECT doc_id, start,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY start
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM isl)
    SELECT doc_id,
           CAST(min(start) AS BIGINT) AS span_start,
           CAST(max(start) + {D.SUBSTRING_WINDOW} - 1 AS BIGINT) AS span_end,
           CAST(max(start) + {D.SUBSTRING_WINDOW} - min(start) AS BIGINT) AS span_len
    FROM grp GROUP BY doc_id, island ORDER BY doc_id, span_start
"""

PIPELINE_QUERIES["dedup_substring_strip"] = D.dedup_substring_strip
PIPELINE_ORACLES["dedup_substring_strip"] = f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    win AS (
      SELECT doc_id, i - 1 AS start,
             md5(array_to_string(
                   list_slice(t, i, i + {D.SUBSTRING_WINDOW} - 1), ' ')) AS wh
      FROM tok, unnest(range(1, len(t) - {D.SUBSTRING_WINDOW} + 2)) AS u(i)
      WHERE len(t) >= {D.SUBSTRING_WINDOW}),
    flagged AS (
      SELECT doc_id, start, min(doc_id) OVER (PARTITION BY wh) AS mn FROM win),
    isl AS (
      SELECT doc_id, start,
             CASE WHEN start > COALESCE(lag(start) OVER (PARTITION BY doc_id
                                                         ORDER BY start),
                                        -{D.SUBSTRING_WINDOW} - 1)
                              + {D.SUBSTRING_WINDOW}
                  THEN 1 ELSE 0 END AS brk
      FROM flagged WHERE mn < doc_id),
    grp AS (
      SELECT doc_id, start,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY start
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM isl),
    spans AS (
      SELECT doc_id, min(start) AS s, max(start) + {D.SUBSTRING_WINDOW} - 1 AS e
      FROM grp GROUP BY doc_id, island),
    pos AS (SELECT doc_id, unnest(t) AS tk, unnest(range(0, len(t))) AS p FROM tok),
    removed AS (SELECT doc_id, unnest(range(s, e + 1)) AS p FROM spans),
    keptrows AS (SELECT doc_id, tk, p FROM pos ANTI JOIN removed USING (doc_id, p)),
    kept AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tk, ' ' ORDER BY p) AS txt
      FROM keptrows GROUP BY doc_id)
    SELECT tok.doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
           md5(COALESCE(k.txt, '')) AS kept_md5
    FROM tok LEFT JOIN kept k USING (doc_id) ORDER BY tok.doc_id
"""
