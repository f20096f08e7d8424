r"""Training-data-pipeline queries: language-ID, quality scoring, MinHash-LSH /
SimHash / n-gram-Jaccard dedup, and embedding similarity search — each with a
DuckDB oracle generated from the same constants as the Spark implementation
(``functions/text.py``, ``functions/dedup.py``, ``functions/similarity.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dedup, similarity
from ..cachepin import pin
from ..functions.text import (LANGS, STOPWORDS, language_id, quality_score,
                              token_count, words)
from . import Query


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------------------
# shared oracle CTE fragments
# ---------------------------------------------------------------------------

_WORDS_CTE = r"""
w AS (
  SELECT doc_id, text,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws
  FROM documents
)"""

_SHINGLES_CTE = _WORDS_CTE + r""",
sh AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
                               i -> array_to_string(ws[i:i+2], ' '))) AS shingle
  FROM w
)"""


def _sig_cte(num_hashes: int = dedup.NUM_HASHES) -> str:
    mins = ", ".join(
        f"min(substr(md5(shingle), {j * 4 + 1}, 4)) AS h{j}"
        for j in range(num_hashes)
    )
    return _SHINGLES_CTE + f""",
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id)"""


def _buckets_cte(num_hashes: int = dedup.NUM_HASHES, bands: int = dedup.BANDS) -> str:
    rows = num_hashes // bands
    selects = []
    for b in range(bands):
        cols = " || '|' || ".join(f"h{b * rows + r}" for r in range(rows))
        selects.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM sig"
        )
    return _sig_cte(num_hashes) + ",\nbk AS (" + "\nUNION ALL\n".join(selects) + ")"


# ---------------------------------------------------------------------------
# language ID + quality score
# ---------------------------------------------------------------------------

def _q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explode + conditional-sum aggregation rather than per-row array-filter
    # lambdas: higher-order filters are interpreted (5 langs x every row cost
    # 2.6 s for 5000 docs); whens over an exploded token column stay in
    # whole-stage codegen.  One rendering for every batch consumer
    # (round-15: ccnet_buckets and corpus_datasheet now share it too) —
    # functions/text.py:language_id_agg.
    from ..functions.text import language_id_agg

    return language_id_agg(_docs(spark, sf_dir), out_col="lang_pred")


def _lang_pred_ctes() -> str:
    """scores/langp CTE pair (expects the ``w`` words CTE above it) —
    ONE rendering of the stopword-hit argmax fold, shared by the
    language_id and ccnet_buckets oracles."""
    score_cols = []
    for lang in LANGS:
        lits = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        score_cols.append(
            f"len(list_filter(ws, x -> list_contains([{lits}], x))) AS s_{lang}"
        )
    # replicate the Spark fold: start at LANGS[0], strict > to replace
    expr_lang = f"'{LANGS[0]}'"
    expr_score = f"s_{LANGS[0]}"
    for lang in LANGS[1:]:
        expr_lang = f"CASE WHEN s_{lang} > {expr_score} THEN '{lang}' ELSE {expr_lang} END"
        expr_score = f"CASE WHEN s_{lang} > {expr_score} THEN s_{lang} ELSE {expr_score} END"
    return (f"scores AS (SELECT doc_id, {', '.join(score_cols)} FROM w),\n"
            f"langp AS (SELECT doc_id, {expr_lang} AS lang_pred "
            "FROM scores)")


def _lang_id_sql() -> str:
    return f"""
WITH {_WORDS_CTE},
{_lang_pred_ctes()}
SELECT doc_id, lang_pred FROM langp
"""


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        quality_score("text").alias("quality"),
    )


def _quality_m_cte(extra: str = "") -> str:
    """The per-doc quality-metrics CTE ``m`` (n_tok / n_chars / n_punct
    / n_stop) — ONE definition shared by every oracle that embeds the
    quality formula, so the formula can never silently diverge between
    rows.  Expects the ``w`` words CTE above it; ``extra`` appends
    additional projected columns."""
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return rf"""m AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
         CAST(len(list_filter(ws, x -> list_contains([{en}], x))) AS DOUBLE) AS n_stop{extra}
  FROM w
)"""


# the quality formula over m's columns — the single SQL rendering of
# functions/text.py:quality_score
_QUALITY_EXPR = """round(0.4 * least(CAST(n_tok AS DOUBLE) / 100.0, 1.0)
           + 0.3 * (1.0 - least((CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 10.0, 1.0))
           + 0.3 * least((CASE WHEN n_tok > 0 THEN n_stop / CAST(n_tok AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0),
           6)"""


def _quality_sql() -> str:
    return rf"""
WITH {_WORDS_CTE},
{_quality_m_cte()}
SELECT doc_id, n_tok AS n_tokens,
       {_QUALITY_EXPR} AS quality
FROM m
"""


# ---------------------------------------------------------------------------
# MinHash / LSH / Jaccard / SimHash
# ---------------------------------------------------------------------------

def _q_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(_docs(spark, sf_dir))


def _minhash_sig_sql() -> str:
    return f"WITH {_sig_cte()} SELECT * FROM sig"


def _q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir))


def _lsh_pairs_sql() -> str:
    return f"""
WITH {_buckets_cte()},
sized AS (SELECT band, bucket, count(*) AS n FROM bk GROUP BY 1, 2),
bk2 AS (SELECT bk.doc_id, bk.band, bk.bucket
        FROM bk JOIN sized USING (band, bucket) WHERE n <= 1000)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bk2 a
JOIN bk2 b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


def _q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


def _jaccard_pairs_sql() -> str:
    return f"""
WITH {_SHINGLES_CTE},
dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM dsh a JOIN dsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) >= 0.5
"""


def _q_near_dup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB dedup composition: LSH banding prunes to candidate pairs,
    exact n-gram Jaccard verifies only those.  No all-pairs join anywhere in
    the plan."""
    from ..functions.text import shingles

    docs = _docs(spark, sf_dir)
    # ONE multiset shingle scan cached for both branches (MinHash minima
    # don't need distinct; the verification's collect_set dedups in-agg,
    # so no distinct shuffle exists anywhere in this plan); the candidate
    # frame is referenced twice by the pair-local verification
    # (candidate-doc filter + pair join), so it is cached too — each
    # subtree executes exactly once on a cold run.  A/B'd alternatives
    # (PLANS.md round 6): the row-local signature fold
    # (minhash_lsh_pairs(local=True), zero corpus shuffle) loses ~2 s at
    # sf0.1 to interpreted higher-order-function overhead, and a
    # distinct-first shared scan re-adds a full exchange — this shape
    # measured fastest cold
    sh = pin(shingles(docs))
    cand = pin(dedup.minhash_lsh_pairs(docs, shingle_df=sh))
    return dedup.verify_jaccard(docs, cand, threshold=0.5, shingle_df=sh)


def _near_dup_verified_sql() -> str:
    return f"""
WITH {_buckets_cte()},
sized AS (SELECT band, bucket, count(*) AS n FROM bk GROUP BY 1, 2),
bk2 AS (SELECT bk.doc_id, bk.band, bk.bucket
        FROM bk JOIN sized USING (band, bucket) WHERE n <= 1000),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bk2 a
         JOIN bk2 b ON a.band = b.band AND a.bucket = b.bucket
                   AND a.doc_id < b.doc_id),
dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN dsh a ON a.doc_id = c.doc_a
  JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) >= 0.5
"""


def _q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import shingles

    docs = _docs(spark, sf_dir)
    sh = pin(shingles(docs))
    # pin the VERIFIED pair set too: the fixed-round propagation
    # references it once per round (und appears in every join), so an
    # unpinned pairs frame re-evaluates the whole LSH+verify subtree
    # iterations+1 times (measured 27 s -> ~3 s at sf0.01).  The LSH
    # candidate frame is pinned as well (round-15): verify_jaccard
    # references it twice (candidate-doc filter + pair join), so an
    # unpinned cand executed the signature subtree twice.
    cand = pin(dedup.minhash_lsh_pairs(docs, shingle_df=sh))
    pairs = pin(dedup.verify_jaccard(
        docs, cand, threshold=0.5, shingle_df=sh,
    ).select("doc_a", "doc_b"))
    return dedup.near_dup_clusters(pairs)


def _near_dup_clusters_sql(iterations: int = 4) -> str:
    # unrolled min-label propagation, mirroring near_dup_clusters round for
    # round over the verified pair set.  The pair set is MATERIALIZED, as
    # the Spark side pins it: each round references the one before twice,
    # and DuckDB inlines a plain CTE at every reference, so the LSH+verify
    # subtree ran once per reference path, doubling with each round
    # (near_dup_clusters at sf0.001 on 4 cores: 164 s -> 0.5 s, same rows).
    steps = []
    prev = "l0"
    for i in range(1, iterations + 1):
        cur = f"l{i}"
        steps.append(f"""
{cur} AS (
  SELECT l.doc_id, least(l.label, COALESCE(m.nl, l.label)) AS label
  FROM {prev} l
  LEFT JOIN (SELECT u.src, min(x.label) AS nl
             FROM und u JOIN {prev} x ON x.doc_id = u.dst
             GROUP BY u.src) m ON m.src = l.doc_id
)""")
        prev = cur
    return f"""
WITH near AS MATERIALIZED ({_near_dup_verified_sql()}),
und AS (SELECT doc_a AS src, doc_b AS dst FROM near
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM near),
l0 AS (SELECT DISTINCT src AS doc_id, src AS label FROM und),
{','.join(steps)}
SELECT doc_id, label AS cluster_id FROM {prev}
"""


def _q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-canonical dedup applied: keep every doc that is its own
    cluster minimum (or in no near-dup cluster at all) — the groupwise
    keeper policy, vs corpus_prep_full's pairwise doc_b-removal policy.

    Uses :func:`dedup.dedup_survivors` with ``fixpoint=False`` — the
    fixed-round form the gate oracle unrolls.  At 100 TB pass
    ``fixpoint=True``: true connected components that survive chain
    components deeper than the fixed round count (same anti-join shape;
    measured head-to-head in PLANS.md "fixed-round vs fixpoint")."""
    docs = _docs(spark, sf_dir)
    # pinned for the same reason as _q_near_dup_clusters: the pair set
    # feeds every propagation round plus the final anti-join
    pairs = pin(_q_near_dup_verified(spark, sf_dir))
    return dedup.dedup_survivors(docs, pairs, fixpoint=False).select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )


def _dedup_survivors_sql() -> str:
    return f"""
WITH clusters AS ({_near_dup_clusters_sql()})
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
"""


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_docs(spark, sf_dir))


def _simhash_sql(bits: int = dedup.SIMHASH_BITS) -> str:
    digits = bits // 4
    dg = ", ".join(
        f"strpos('0123456789abcdef', substr(h, {d + 1}, 1)) - 1 AS d{d}"
        for d in range(digits)
    )
    votes = ", ".join(
        f"sum((CAST(floor(d{k // 4} / {2 ** (3 - k % 4)}) AS BIGINT) % 2) * 2 - 1) AS v{k}"
        for k in range(bits)
    )
    value = " + ".join(
        f"(CASE WHEN v{k} > 0 THEN 1 ELSE 0 END) * {2 ** (bits - 1 - k)}"
        for k in range(bits)
    )
    return f"""
WITH {_SHINGLES_CTE},
hx AS (SELECT doc_id, md5(shingle) AS h FROM sh),
dg AS (SELECT doc_id, {dg} FROM hx),
v AS (SELECT doc_id, {votes} FROM dg GROUP BY doc_id)
SELECT doc_id, CAST({value} AS BIGINT) AS simhash FROM v
"""


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_dup_pairs(_docs(spark, sf_dir), max_hamming=3)


def _simhash_pairs_sql() -> str:
    return f"""
WITH sims AS ({_simhash_sql()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# ---------------------------------------------------------------------------
# embedding similarity
# ---------------------------------------------------------------------------

_COS = ("round(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)")


def _q_bf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.brute_force_topk(_emb(spark, sf_dir))


def _bf_topk_sql() -> str:
    cos = _COS.format(a="q.qe", b="c.ve")
    return f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
      FROM embeddings WHERE vec_id >= 5),
scored AS (SELECT query_id, vec_id, {cos} AS cos_sim FROM c, q),
r AS (SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored)
SELECT query_id, vec_id, cos_sim, rank FROM r WHERE rank <= 10
"""


def _q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_assign(_emb(spark, sf_dir))


def _ivf_assign_sql() -> str:
    cos = _COS.format(a="e.ve", b="ct.ce")
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
ct AS (SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS ce
       FROM embeddings WHERE vec_id < {similarity.N_CENTROIDS}),
scored AS (SELECT e.vec_id, ct.cell_id, {cos} AS cell_sim FROM e, ct),
r AS (SELECT vec_id, cell_id, cell_sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cell_sim DESC, cell_id) AS rn
      FROM scored)
SELECT vec_id, cell_id, cell_sim FROM r WHERE rn = 1
"""


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_topk(_emb(spark, sf_dir))


def _q_pq_topk_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ (m=16 subvectors, 16 centroids each, sample-trained driver-side)
    ADC shortlist of 100, exact cosine re-rank to top-10 — the FAISS
    IVF-PQ refine pipeline; float reads are candidate-bounded.  EAGER
    (codebook training collects a sample — training exemption) and
    rows-only (approximate scores aren't SQL-expressible; recall is
    pytest-pinned vs brute_force_topk)."""
    return similarity.pq_topk_rerank(_emb(spark, sf_dir))


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (functions/similarity.py:
    semantic_dedup): IVF-cell blocking + in-cell cosine pairs + the
    keep-least-central rule.  The oracle mirrors the identical cell
    blocking (embedding near-dup discipline), so the gate checks this
    exact approximate semantic.

    The raw synthetic embeddings are near-orthogonal (max pairwise
    cosine ~0.45 — the _q_emb_near_dup_verified finding), so the
    unaugmented corpus would make the kept=0 arm VACUOUS at every SF
    (all survivors, empty-but-green on the drop side).  The row
    therefore runs on the same deterministic twin augmentation
    (similarity.near_dup_twin_augment — ONE Spark rendering shared
    with the near-dup row and the A/B experiment): each twin lands in
    its original's cell at cosine ~1 and exactly one of the pair
    survives the least-central rule — both arms fire, both engines
    identically."""
    return similarity.semantic_dedup(
        similarity.near_dup_twin_augment(_emb(spark, sf_dir)))


def _semantic_dedup_sql(threshold: float = 0.92) -> str:
    cos = _COS.format(a="a.ve", b="b.ve")
    assign_sql = _ivf_assign_sql().replace("FROM embeddings", "FROM emb_aug")
    return f"""
WITH emb_aug AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000000000 AS vec_id,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.01)
           AS embedding
  FROM embeddings WHERE vec_id % 10 = 0
),
assign AS ({assign_sql}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM emb_aug),
cells AS (SELECT a.vec_id, a.cell_id, a.cell_sim, e.ve
          FROM assign a JOIN e USING (vec_id)),
dup AS (
  SELECT b.vec_id
  FROM cells a JOIN cells b ON a.cell_id = b.cell_id
   AND (a.cell_sim < b.cell_sim
        OR (a.cell_sim = b.cell_sim AND a.vec_id < b.vec_id))
  WHERE {cos} >= {threshold}
  GROUP BY 1
)
SELECT c.vec_id, c.cell_id, c.cell_sim,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER)
         AS kept
FROM cells c LEFT JOIN dup d ON d.vec_id = c.vec_id
"""


def _ivf_topk_sql() -> str:
    qc = _COS.format(a="q.qe", b="ct.ce")
    cos = _COS.format(a="p.qe", b="c.ve")
    return f"""
WITH assign AS ({_ivf_assign_sql()}),
ct AS (SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS ce
       FROM embeddings WHERE vec_id < {similarity.N_CENTROIDS}),
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings WHERE vec_id < 5),
qcell AS (SELECT query_id, cell_id, qe, {qc} AS qc_sim FROM q, ct),
probed AS (SELECT query_id, cell_id, qe FROM (
             SELECT query_id, cell_id, qe,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY qc_sim DESC, cell_id) AS rn
             FROM qcell) WHERE rn <= {similarity.NPROBE}),
c AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ve, a.cell_id
      FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id
      WHERE e.vec_id >= 5),
scored AS (SELECT p.query_id, c.vec_id, {cos} AS cos_sim
           FROM c JOIN probed p ON c.cell_id = p.cell_id),
r AS (SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored)
SELECT query_id, vec_id, cos_sim, rank FROM r WHERE rank <= 10
"""


def _q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_dup_pairs(_emb(spark, sf_dir), threshold=0.92)


def _emb_near_dup_sql() -> str:
    cos = _COS.format(a="a.ve", b="b.ve")
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {cos} >= 0.92
"""


def _q_emb_near_dup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup over IVF candidate blocking — equi-join on cell_id,
    cosine verified on in-cell pairs only (scale composition of
    embedding_near_dup).

    The synthetic embeddings are near-orthogonal (max pairwise cosine ~0.45
    at sf0.01), so the raw corpus has NO near-dups at any sane threshold and
    a green gate row would be vacuous (0 rows on both engines — VERDICT r02).
    The gate query therefore augments the corpus with deterministic perturbed
    twins (similarity.near_dup_twin_augment — vec_id + 10^12, every
    coordinate +0.01 in double) — the twins land in their original's IVF
    cell and verify at cosine ~1, so the checked row carries real pairs
    through the whole assign -> cell-join -> fold pipeline.  The identical
    augmentation runs on the oracle side."""
    aug = similarity.near_dup_twin_augment(_emb(spark, sf_dir))
    return similarity.embedding_near_dup_ivf(aug, threshold=0.92)


def _emb_near_dup_verified_sql() -> str:
    cos = _COS.format(a="a.ve", b="b.ve")
    assign_sql = _ivf_assign_sql().replace("FROM embeddings", "FROM emb_aug")
    return f"""
WITH emb_aug AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000000000 AS vec_id,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.01) AS embedding
  FROM embeddings WHERE vec_id % 10 = 0
),
assign AS ({assign_sql}),
cells AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ve, a.cell_id
          FROM emb_aug e JOIN assign a ON e.vec_id = a.vec_id)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cos_sim
FROM cells a JOIN cells b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
WHERE {cos} >= 0.92
"""


def _q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = similarity.quantize_embeddings(_emb(spark, sf_dir))
    # gate-facing: serialize the int8 codes (array cells aren't hashable in
    # the driver's canonicalizer)
    return q.select(
        "vec_id", "scale",
        F.concat_ws(
            ",", F.transform("q_emb", lambda x: x.cast("string"))
        ).alias("q_sig"),
    )


_QUANTIZE_SQL = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve,
         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS ma
  FROM embeddings
)
SELECT vec_id,
       round(ma, 6) AS scale,
       array_to_string(
         CASE WHEN ma > 0
              THEN list_transform(ve, x -> CAST(CAST(round(x / ma * 127) AS INTEGER) AS VARCHAR))
              ELSE list_transform(ve, x -> '0') END,
         ',') AS q_sig
FROM e
"""


def _q_ivf_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only: KMeans centroid training is impl-specific, not
    # oracle-reproducible; recall vs brute force asserted in
    # tests/test_kmeans_ivf.py
    return similarity.ivf_topk_trained(_emb(spark, sf_dir))


def _q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained fastText-style quality classifier (functions/quality.py:
    quality_classifier_trained): hashed bag-of-words + logistic
    regression over weak heuristic labels.  EAGER (L-BFGS training —
    the kmeans exemption) and rows-only: float sigmoid scores are not
    SQL-expressible; separation + agreement pinned in
    tests/test_quality_rules.py."""
    from ..functions.quality import quality_classifier_trained

    return quality_classifier_trained(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# multimodal plumbing (mapInPandas; deterministic fake extractor)
# ---------------------------------------------------------------------------

def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.multimodal import attach_binary, extract_features

    feats = extract_features(attach_binary(_docs(spark, sf_dir)))
    # Gate-facing serialization: feature_vec scaled to integer micro-units
    # and comma-joined, so the driver's canonicalizer can hash the row
    # (array-typed cells aren't hashable there).  floor(x * 1e6) is exact on
    # both engines: x = k/255.0 is the same IEEE double everywhere.
    sig = F.concat_ws(
        ",",
        F.transform(
            "feature_vec", lambda x: F.floor(x * 1_000_000).cast("long").cast("string")
        ),
    )
    return feats.select("doc_id", "n_bytes", "content_md5", sig.alias("feature_sig"))


def _multimodal_sql() -> str:
    def hexv(i: int) -> str:
        d1 = f"(strpos('0123456789abcdef', substr(md5(text), {i * 2 + 1}, 1)) - 1)"
        d2 = f"(strpos('0123456789abcdef', substr(md5(text), {i * 2 + 2}, 1)) - 1)"
        return f"({d1} * 16 + {d2}) / 255.0"

    sig = " || ',' || ".join(
        f"CAST(CAST(floor(({hexv(i)}) * 1000000) AS BIGINT) AS VARCHAR)"
        for i in range(4)
    )
    return f"""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5,
       {sig} AS feature_sig
FROM documents
"""


def _q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.multimodal import attach_binary, sample_frames

    return sample_frames(attach_binary(_docs(spark, sf_dir)))


# byte-true on the Spark side; the VARCHAR slicing here is exact because the
# testdata corpus is pure ASCII (octet_length == length for every doc) —
# char positions == byte positions and md5(text-slice) == md5(byte-slice)
_MULTIMODAL_FRAMES_SQL = """
SELECT doc_id,
       CAST(ceil(length(text) / 64.0) AS BIGINT) AS n_frames,
       array_to_string(
         list_transform(
           generate_series(0, CAST(ceil(length(text) / 64.0) AS BIGINT) - 1, 4),
           i -> md5(substring(text, i * 64 + 1, 64))), ',') AS frame_sig
FROM documents
"""


def _q_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE image-decode path (round 5): synthesize a valid 4x4 P6 PPM
    payload per doc (header + 48-byte raster from md5 hex — deterministic
    and pure ASCII so both engines agree byte-for-byte), run the vendored
    decoder through the Arrow ``mapInPandas`` pipeline, emit dimensions +
    per-channel means.  Unlike ``multimodal_features`` (which fingerprints
    opaque bytes) this row proves an actual codec executes inside the
    distributed plan."""
    from ..functions.multimodal import image_stats

    docs = _docs(spark, sf_dir)
    raster = F.concat(
        F.md5(F.col("text")),
        F.substring(F.md5(F.concat(F.col("text"), F.lit("x"))), 1, 16),
    )
    media = docs.select(
        "doc_id",
        F.concat(
            F.encode(F.lit("P6\n4 4\n255\n"), "UTF-8"),
            F.encode(raster, "UTF-8"),
        ).alias("content"),
    )
    return image_stats(media).select(
        "doc_id",
        "width",
        "height",
        F.element_at("mean_rgb", 1).alias("mean_r"),
        F.element_at("mean_rgb", 2).alias("mean_g"),
        F.element_at("mean_rgb", 3).alias("mean_b"),
    )


def _q_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs over synthesized 8x8 P6 PPM payloads: docs in
    the same ``doc_id % 25`` group share one md5-derived raster (exact
    perceptual duplicates, hamming 0), and every fifth doc additionally
    perturbs the first raster bytes (a near-duplicate at small hamming).
    average_hash runs through the live PPM decode in mapInPandas, pairs
    come from the generic banded hamming join.  ORACLED since round 8:
    the raster synthesis is md5 arithmetic, so the DuckDB twin
    (_image_near_dup_sql) recomputes every pixel, grayscale mean, and
    hash bit without touching image bytes, then string-hammings all
    pairs — banding is lossless by pigeonhole, so the result sets match
    exactly.  Pairing semantics additionally pytest-pinned in
    tests/test_image_dedup.py."""
    from ..functions.multimodal import image_near_dup_pairs

    docs = _docs(spark, sf_dir)
    group = (F.col("doc_id") % 25).cast("string")
    base = F.concat(
        *[F.md5(F.concat(F.lit(f"img{k}:"), group)) for k in range(6)]
    )  # 6 x 32 ASCII chars = 192 raster bytes = 8x8 RGB
    perturbed = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                 F.substring(base, 9, 184)),
    ).otherwise(base)
    media = docs.select(
        "doc_id",
        F.concat(
            F.encode(F.lit("P6\n8 8\n255\n"), "UTF-8"),
            F.encode(perturbed, "UTF-8"),
        ).alias("content"),
    )
    return image_near_dup_pairs(media, max_hamming=5)


def _q_image_ahash_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The strongest multimodal correctness claim in the registry: the
    REAL decode path (vendored P6 PPM decoder -> perceptual average_hash
    in Arrow mapInPandas) hash-checked against a DuckDB oracle that
    never touches image bytes — it recomputes every pixel, the grayscale
    means, and the packed hash purely from the md5-character arithmetic
    of the synthesized raster.  Any decoder or hash regression flips
    hex digits and mismatches at the gate.  Same payload synthesis as
    image_near_dup (8x8 PPM, clustered + perturbed)."""
    from ..functions.multimodal import image_ahash

    docs = _docs(spark, sf_dir)
    group = (F.col("doc_id") % 25).cast("string")
    base = F.concat(
        *[F.md5(F.concat(F.lit(f"img{k}:"), group)) for k in range(6)]
    )
    perturbed = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                 F.substring(base, 9, 184)),
    ).otherwise(base)
    media = docs.select(
        "doc_id",
        F.concat(
            F.encode(F.lit("P6\n8 8\n255\n"), "UTF-8"),
            F.encode(perturbed, "UTF-8"),
        ).alias("content"),
    )
    # signed-long aHash -> canonical 16-digit lowercase hex
    return image_ahash(media).select(
        "doc_id",
        F.lpad(F.lower(F.hex("ahash")), 16, "0").alias("ahash_hex"),
    )


# injected un-normalized tail: combining-acute 'Cafe' + a tab + a
# trailing space — NFC composes the accent, the folds collapse the rest
_NFC_TAIL = " Café \tfi "


def _q_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (functions/text.py:nfc_normalize_text)
    over documents with an injected un-normalized tail on every third
    doc (combining accent + tab + trailing space), so both the
    changed=1 and changed=0 arms fire.  The oracle replays the same
    pipeline through DuckDB's nfc_normalize — an INDEPENDENT NFC
    implementation (utf8proc vs Python's unicodedata), so the gate
    cross-validates the composition tables, not just the plumbing."""
    from ..functions.text import nfc_normalize_text

    docs = _docs(spark, sf_dir)
    injected = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.substring("text", 1, 60), F.lit(_NFC_TAIL)))
        .otherwise(F.col("text")).alias("text"))
    return nfc_normalize_text(injected)


def _unicode_normalize_sql() -> str:
    tail = _NFC_TAIL.replace("\t", "' || chr(9) || '")
    return rf"""
WITH x AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN substr(text, 1, 60) || '{tail}'
              ELSE text END AS t
  FROM documents
),
n AS (
  SELECT doc_id, t,
         trim(regexp_replace(regexp_replace(nfc_normalize(t),
              '[\x00-\x08\x0b-\x1f\x7f]', ' ', 'g'),
              '[ \t\n\r\f\v]+', ' ', 'g')) AS norm_text
  FROM x
)
SELECT doc_id, norm_text,
       CAST(length(norm_text) AS BIGINT) AS n_chars,
       CAST(CASE WHEN norm_text <> t THEN 1 ELSE 0 END AS INTEGER)
         AS changed
FROM n
"""


# ip = knuth-hash of the low 16 user_id bits into the 32-bit space;
# range r (r < 256) owns [r * 2^24, r * 2^24 + len(r) * 2^20) with
# len(r) = 5 + (r * 7) % 11 in [5, 15] — disjoint (15 * 2^20 < 2^24),
# covering 31-94% of each /8 block so both match and miss arms fire.
_IP_MUL, _IP_SPACE = 2654435761, 1 << 32
_RB_W = 1 << 20    # bucket width: ranges span 5-15 buckets (real fanout)


def _q_ip_range_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoIP-style point-in-range enrichment (operators/rangejoin.py:
    bucketed_range_lookup): synthetic 32-bit IPs from events joined to
    256 disjoint synthetic CIDR-ish blocks carrying a country code.
    The oracle runs the direct BETWEEN theta join — the bucketed
    equi-join must produce the identical match set (replication is
    lossless: a range replica exists in every bucket the interval
    touches, and the residual filter removes the rest)."""
    from ..operators.rangejoin import bucketed_range_lookup

    points = _events(spark, sf_dir).select(
        "event_id",
        F.expr(f"((user_id % 65536) * {_IP_MUL}) % {_IP_SPACE}")
        .alias("ip"))
    ranges = _docs(spark, sf_dir).where(F.col("doc_id") < 256).select(
        F.expr("doc_id * 16777216").alias("range_start"),
        F.expr("doc_id * 16777216 + (5 + (doc_id * 7) % 11) * 1048576"
               " - 1").alias("range_end"),
        F.concat(F.lit("C"), (F.col("doc_id") % 19).cast("string"))
        .alias("country"))
    out = bucketed_range_lookup(points, F.broadcast(ranges),
                                "ip", "range_start", "range_end", _RB_W)
    return out.select(
        "event_id", "ip", "range_start", "country",
        F.when(F.col("country").isNull(), 0).otherwise(1)
        .cast("int").alias("matched"))


def _ip_range_lookup_sql() -> str:
    return f"""
WITH p AS (
  SELECT event_id,
         ((user_id % 65536) * {_IP_MUL}) % {_IP_SPACE} AS ip
  FROM events
),
r AS (
  SELECT doc_id * 16777216 AS range_start,
         doc_id * 16777216 + (5 + (doc_id * 7) % 11) * 1048576 - 1
           AS range_end,
         'C' || CAST(doc_id % 19 AS VARCHAR) AS country
  FROM documents WHERE doc_id < 256
)
SELECT p.event_id, p.ip, r.range_start, r.country,
       CAST(CASE WHEN r.country IS NULL THEN 0 ELSE 1 END AS INTEGER)
         AS matched
FROM p LEFT JOIN r
  ON p.ip >= r.range_start AND p.ip <= r.range_end
"""


_DHASH_SHIFT = ("0123456789abcdef", "@ABCDEFGHIqrstuv")  # ascii + 16


def _q_image_dhash_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dHash (gradient perceptual hash) through the REAL decode path,
    hash-checked against a DuckDB oracle that recomputes every bit from
    the md5-character arithmetic — the image_ahash_oracle discipline
    applied to the difference hash.  The fixture's every-fifth doc is a
    BRIGHTNESS-SHIFTED copy (every raster byte + 16 via translate —
    grayscale shifts exactly, no clipping below 255), and the oracle
    computes all hashes from the UNSHIFTED raster: the gate therefore
    pins dHash's shift-invariance claim, not just the bit packing."""
    from ..functions.multimodal import image_dhash

    docs = _docs(spark, sf_dir)
    group = (F.col("doc_id") % 25).cast("string")
    base = F.concat(
        *[F.md5(F.concat(F.lit(f"img{k}:"), group)) for k in range(6)]
    )
    shifted = F.when(
        F.col("doc_id") % 5 == 0,
        F.translate(base, _DHASH_SHIFT[0], _DHASH_SHIFT[1]),
    ).otherwise(base)
    media = docs.select(
        "doc_id",
        F.concat(
            F.encode(F.lit("P6\n8 8\n255\n"), "UTF-8"),
            F.encode(shifted, "UTF-8"),
        ).alias("content"),
    )
    return image_dhash(media).select(
        "doc_id",
        F.lpad(F.lower(F.hex("dhash")), 16, "0").alias("dhash_hex"),
    )


def _image_dhash_sql() -> str:
    # oracle from the UNSHIFTED raster for every doc — shift-invariance
    # is part of the checked claim (see _q_image_dhash_oracle)
    base = " || ".join(
        f"md5('img{k}:' || CAST(doc_id % 25 AS VARCHAR))" for k in range(6)
    )
    grays = ", ".join(
        f"(ascii(substr(r, {3 * p + 1}, 1)) + ascii(substr(r, {3 * p + 2},"
        f" 1)) + ascii(substr(r, {3 * p + 3}, 1))) // 3"
        for p in range(64)
    )
    # nearest-resample of an 8-wide row to 9 columns: col c reads source
    # column (c * 8) // 9 -> [0,0,1,2,3,4,5,6,7]
    cols = [(c * 8) // 9 for c in range(9)]

    def bit(k: int) -> str:
        r, c = divmod(k, 8)
        left = f"g[{r * 8 + cols[c] + 1}]"
        right = f"g[{r * 8 + cols[c + 1] + 1}]"
        return f"CASE WHEN {right} > {left} THEN {{w}} ELSE 0 END"

    hex_digits = " || ".join(
        "substr('0123456789abcdef', "
        + " + ".join(
            bit(4 * k + b).format(w=2 ** (3 - b)) for b in range(4)
        )
        + " + 1, 1)"
        for k in range(16)
    )
    return f"""
WITH rast AS (SELECT doc_id, {base} AS r FROM documents),
gr AS (SELECT doc_id, [{grays}] AS g FROM rast)
SELECT doc_id, {hex_digits} AS dhash_hex FROM gr
"""


def _image_ahash_sql() -> str:
    # the synthesized raster, byte-for-byte (ASCII codes of md5 chars)
    base = " || ".join(
        f"md5('img{k}:' || CAST(doc_id % 25 AS VARCHAR))" for k in range(6)
    )
    grays = ", ".join(
        f"(ascii(substr(r, {3 * p + 1}, 1)) + ascii(substr(r, {3 * p + 2},"
        f" 1)) + ascii(substr(r, {3 * p + 3}, 1))) // 3"
        for p in range(64)
    )
    mean = " + ".join(f"g[{p + 1}]" for p in range(64))
    hex_digits = " || ".join(
        "substr('0123456789abcdef', "
        + " + ".join(
            f"CASE WHEN g[{4 * k + b + 1}] >= m THEN {2 ** (3 - b)} "
            "ELSE 0 END"
            for b in range(4)
        )
        + " + 1, 1)"
        for k in range(16)
    )
    return f"""
WITH rast AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) ||
                   substr({base}, 9, 184)
              ELSE {base} END AS r
  FROM documents
),
gr AS (SELECT doc_id, [{grays}] AS g FROM rast),
mn AS (SELECT doc_id, g, ({mean}) // 64 AS m FROM gr)
SELECT doc_id, {hex_digits} AS ahash_hex FROM mn
"""


def _image_near_dup_sql() -> str:
    # Same per-doc raster/grayscale/mean arithmetic as _image_ahash_sql,
    # but the hash rides as a 64-char '0'/'1' string so the pair stage is
    # plain string hamming — DuckDB's hamming() — with no 64-bit signed
    # overflow concerns.  The oracle pairs ALL docs directly (banding is
    # lossless by pigeonhole, so the banded join's result set is exactly
    # the hamming-thresholded set; at oracle scale the all-pairs form is
    # trivial).
    base = " || ".join(
        f"md5('img{k}:' || CAST(doc_id % 25 AS VARCHAR))" for k in range(6)
    )
    grays = ", ".join(
        f"(ascii(substr(r, {3 * p + 1}, 1)) + ascii(substr(r, {3 * p + 2},"
        f" 1)) + ascii(substr(r, {3 * p + 3}, 1))) // 3"
        for p in range(64)
    )
    mean = " + ".join(f"g[{p + 1}]" for p in range(64))
    bits = " || ".join(
        f"CASE WHEN g[{p + 1}] >= m THEN '1' ELSE '0' END"
        for p in range(64)
    )
    return f"""
WITH rast AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) ||
                   substr({base}, 9, 184)
              ELSE {base} END AS r
  FROM documents
),
gr AS (SELECT doc_id, [{grays}] AS g FROM rast),
mn AS (SELECT doc_id, g, ({mean}) // 64 AS m FROM gr),
bs AS (SELECT doc_id, {bits} AS b FROM mn)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(hamming(a.b, b.b) AS BIGINT) AS hamming
FROM bs a JOIN bs b ON a.doc_id < b.doc_id
WHERE hamming(a.b, b.b) <= 5
"""


def _q_audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE audio-codec path (late round 5): derive 16 deterministic
    int16 samples per doc from the md5 hex of its text, encode them as a
    FLAC stream and decode it back — BOTH inside one Arrow ``mapInPandas``
    batch — then emit frame count / rate / RMS and a lossless flag.  The
    DuckDB oracle reproduces every value from the same md5 arithmetic
    without ever touching FLAC bytes, which is only possible because the
    vendored codec is lossless; any codec regression flips the flag (or
    perturbs the RMS) and hash-mismatches at the gate."""
    from ..functions.multimodal import flac_roundtrip_stats

    docs = _docs(spark, sf_dir)
    return flac_roundtrip_stats(
        docs.select("doc_id", F.md5(F.col("text")).alias("sig")))


_TONE_N, _TONE_RATE, _TONE_AMP = 2000, 8000, 12000


def _synth_tone_wavs(docs: DataFrame) -> DataFrame:
    """(doc_id, content) WAV fixture: a mono int16 SQUARE wave at bin
    k = 1 + doc_id % 50 — s[n] = ±AMP as (k*n) mod N falls below N/2.
    A square wave keeps every spectral-feature output closed-form (the
    flac_roundtrip discipline): |s| = AMP everywhere so rms = AMP
    exactly; the fundamental dominates every harmonic (2/pi vs 2/3pi)
    so the rfft argmax is k; and zero crossings are the integer flip
    count of the same mod arithmetic the oracle replays."""
    import numpy as np
    import pandas as pd

    from ..functions.multimodal import encode_wav

    def run(batches):
        n_arr = np.arange(_TONE_N, dtype=np.int64)
        for pdf in batches:
            def wav(doc_id: int) -> bytes:
                k = 1 + doc_id % 50
                hi = (k * n_arr) % _TONE_N < _TONE_N // 2
                s = np.where(hi, _TONE_AMP, -_TONE_AMP).astype(np.int16)
                return encode_wav(s.reshape(-1, 1), _TONE_RATE)

            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "content": pdf["doc_id"].map(wav),
            })

    return docs.select("doc_id").mapInPandas(
        run, "doc_id long, content binary")


def _q_audio_spectral_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED audio feature-extraction path (functions/multimodal.py:
    audio_spectral_features): per-doc square-wave WAV synth -> stdlib
    WAV decode -> numpy rfft peak + zero crossings + RMS, all
    Arrow-batched.  The oracle reproduces every value from the fixture's
    mod arithmetic — possible because the waveform is integer-exact and
    its spectrum is known in closed form."""
    from ..functions.multimodal import audio_spectral_features

    return audio_spectral_features(_synth_tone_wavs(_docs(spark, sf_dir)))


def _audio_spectral_sql() -> str:
    n, rate, amp = _TONE_N, _TONE_RATE, _TONE_AMP
    return f"""
WITH p AS (SELECT doc_id, 1 + doc_id % 50 AS k FROM documents),
z AS (
  SELECT doc_id, k,
         len(list_filter(generate_series(1, {n - 1}),
             i -> ((k * i) % {n} < {n // 2})
                  <> ((k * (i - 1)) % {n} < {n // 2}))) AS zc
  FROM p
)
SELECT doc_id, CAST({n} AS BIGINT) AS n_samples,
       CAST({rate} AS INTEGER) AS sample_rate,
       CAST(k AS INTEGER) AS peak_bin,
       CAST(k * {rate / n} AS DOUBLE) AS peak_hz,
       CAST(zc AS BIGINT) AS zero_crossings,
       CAST({amp}.0 AS DOUBLE) AS rms
FROM z
"""


# sample = (ascii - 75) * 256 over md5 hex chars: sum of squares <= 16 *
# (27*256)^2 is exact in a double, /16 is a power of two, and IEEE sqrt is
# correctly rounded in both engines -> bit-identical rms
_AUDIO_DECODE_SQL = """
WITH r AS (SELECT doc_id, md5(text) AS sig FROM documents)
SELECT doc_id,
       CAST(16 AS BIGINT) AS n_frames,
       CAST(16000 AS INTEGER) AS sample_rate,
       round(sqrt(list_avg(list_transform(generate_series(0, 15),
             j -> pow((ascii(substr(sig, j + 1, 1)) - 75) * 256.0, 2)))), 6)
         AS rms,
       CAST(1 AS INTEGER) AS lossless
FROM r
"""


# channel mean = avg of 16 byte values; the sum of <=16*102 is exact and
# /16 is a power of two, so the double is bit-identical to numpy's mean
_IMAGE_DECODE_SQL = """
WITH r AS (
  SELECT doc_id, md5(text) || substr(md5(text || 'x'), 1, 16) AS ras
  FROM documents
)
SELECT doc_id,
       CAST(4 AS INTEGER) AS width,
       CAST(4 AS INTEGER) AS height,
       round(list_avg(list_transform(generate_series(0, 15),
                                     j -> ascii(substr(ras, 3*j + 1, 1)))), 6)
         AS mean_r,
       round(list_avg(list_transform(generate_series(0, 15),
                                     j -> ascii(substr(ras, 3*j + 2, 1)))), 6)
         AS mean_g,
       round(list_avg(list_transform(generate_series(0, 15),
                                     j -> ascii(substr(ras, 3*j + 3, 1)))), 6)
         AS mean_b
FROM r
"""


# ---------------------------------------------------------------------------
# TF-IDF (tokenize -> tf -> idf -> score; classic text-analysis pipeline)
# ---------------------------------------------------------------------------

def _q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    # corpus size as a broadcast 1-row aggregate — no eager driver-side
    # action in the build path (same pattern as above_avg_orders)
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tok = docs.select("doc_id", F.explode(words("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df_), "term").crossJoin(F.broadcast(n)).select(
        "doc_id", "term",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.col("n_docs") / F.col("df").cast("double")),
            6,
        ).alias("tfidf"),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf", "rk")
    )


_TFIDF_SQL = f"""
WITH {_WORDS_CTE},
tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term,
         round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tfidf, rk FROM (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
  FROM scored
) WHERE rk <= 3
"""


def _q_corpus_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    tok = docs.select(F.explode(words("text")).alias("term"))
    return (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term"))
        .limit(20)
    )


_CORPUS_TOP_TERMS_SQL = f"""
WITH {_WORDS_CTE}
SELECT term, count(*) AS n
FROM (SELECT unnest(ws) AS term FROM w)
GROUP BY term
ORDER BY n DESC, term
LIMIT 20
"""


# ---------------------------------------------------------------------------
# shard packing + stratified sampling (training-data last mile)
# ---------------------------------------------------------------------------

def _q_pack_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sampling import pack_token_shards

    return pack_token_shards(_docs(spark, sf_dir))


_PACK_SHARDS_SQL = r"""
WITH counted AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM documents
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(floor(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 10000.0)
            AS BIGINT) AS shard_id
FROM counted
"""


def _ngram_cte(n: int) -> str:
    """Generic word n-gram CTE (w, sh) — the n=3 `_SHINGLES_CTE` generalized."""
    return _WORDS_CTE + f""",
sh AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(ws) - {n - 1}, 0)),
                               i -> array_to_string(ws[i:i+{n - 1}], ' '))) AS shingle
  FROM w
)"""


def _q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import repetition_stats

    return repetition_stats(_docs(spark, sf_dir), n=3)


_REPETITION_SQL = r"""
WITH w AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws
  FROM documents
),
s AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
                        i -> array_to_string(ws[i:i+2], ' ')) AS sh
  FROM w
)
SELECT doc_id,
       CAST(len(sh) AS BIGINT) AS n_shingles,
       CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
       round(CASE WHEN len(sh) > 0
                  THEN 1.0 - CAST(len(list_distinct(sh)) AS DOUBLE)
                             / CAST(len(sh) AS DOUBLE)
                  ELSE 0.0 END, 6) AS rep_ratio
FROM s
"""


def _q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import contaminated_docs

    return contaminated_docs(_docs(spark, sf_dir), n=8, bench_mod=10)


_CONTAMINATION_SQL = f"""
WITH {_ngram_cte(8)},
d AS (SELECT DISTINCT doc_id, shingle FROM sh),
b AS (SELECT DISTINCT shingle FROM d WHERE doc_id % 10 = 0)
SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
FROM d JOIN b ON d.shingle = b.shingle
WHERE d.doc_id % 10 != 0
GROUP BY d.doc_id
"""


def _q_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import contamination_overlap

    return contamination_overlap(_docs(spark, sf_dir), n=8, bench_mod=10,
                                 min_ratio=0.2)


_CONTAMINATION_OVERLAP_SQL = f"""
WITH {_ngram_cte(8)},
d AS (SELECT DISTINCT doc_id, shingle FROM sh),
b AS (SELECT doc_id AS bench_id, shingle FROM d WHERE doc_id % 10 = 0),
bs AS (SELECT bench_id, count(*) AS nb FROM b GROUP BY 1),
hits AS (
  SELECT d.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM d JOIN b ON d.shingle = b.shingle
  WHERE d.doc_id % 10 != 0
  GROUP BY 1, 2
)
SELECT doc_id, bench_id, n_shared,
       round(CAST(n_shared AS DOUBLE) / CAST(nb AS DOUBLE), 6)
         AS overlap_ratio
FROM hits JOIN bs USING (bench_id)
WHERE round(CAST(n_shared AS DOUBLE) / CAST(nb AS DOUBLE), 6) >= 0.2
"""


def _q_rare_bigram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import rare_bigram_rate

    return rare_bigram_rate(_docs(spark, sf_dir), max_count=2)


_RARE_BIGRAM_SQL = f"""
WITH {_ngram_cte(2)},
c AS (SELECT shingle, count(*) AS cc FROM sh GROUP BY 1),
per AS (
  SELECT sh.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(CASE WHEN c.cc <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
  FROM sh JOIN c USING (shingle)
  GROUP BY sh.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(per.n_rare, 0) AS BIGINT) AS n_rare,
       CASE WHEN COALESCE(per.n_bigrams, 0) > 0
            THEN round(CAST(per.n_rare AS DOUBLE)
                       / CAST(per.n_bigrams AS DOUBLE), 6)
            ELSE 0.0 END AS rare_rate
FROM documents d LEFT JOIN per USING (doc_id)
"""


def _q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import vocab_coverage

    return vocab_coverage(_docs(spark, sf_dir), min_df_pct=60)


_VOCAB_COVERAGE_SQL = r"""
WITH w AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws
  FROM documents
),
tok AS (SELECT doc_id, unnest(ws) AS wd FROM w),
dfreq AS (SELECT wd, count(*) AS d
          FROM (SELECT DISTINCT doc_id, wd FROM tok) GROUP BY wd),
nd AS (SELECT count(*) AS n FROM documents),
vocab AS (SELECT wd FROM dfreq, nd WHERE d * 100 >= 60 * n)
SELECT tok.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN vocab.wd IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       round(CASE WHEN count(*) > 0
                  THEN CAST(sum(CASE WHEN vocab.wd IS NULL THEN 1 ELSE 0 END)
                            AS DOUBLE) / CAST(count(*) AS DOUBLE)
                  ELSE 0.0 END, 6) AS oov_rate
FROM tok LEFT JOIN vocab ON tok.wd = vocab.wd
GROUP BY tok.doc_id
"""


def _q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sampling import temperature_sample

    return temperature_sample(_docs(spark, sf_dir), strat_col="lang",
                              alpha=0.5, frac=0.5)


# u(doc) = first 6 hex digits of md5(doc_id) as an integer / 16^6 — the
# per-digit strpos fold is the same cross-engine hex trick as the simhash
# oracle (DuckDB has no base-16 conv()).
_TEMPERATURE_U = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
    for i in range(6)
)

_TEMPERATURE_SQL = f"""
WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
tot AS (SELECT sum(n) AS nn, sum(pow(n, 0.5)) AS z FROM counts),
probs AS (
  SELECT lang,
         round(least(1.0, 0.5 * nn * pow(n, 0.5) / z / n), 6) AS p
  FROM counts, tot
)
SELECT doc_id, d.lang,
       (CAST({_TEMPERATURE_U} AS DOUBLE) / 16777216.0) < p AS keep
FROM documents d JOIN probs ON d.lang = probs.lang
"""


_STRAT_FRACTIONS = {"en": 0.5, "de": 0.3, "fr": 0.7, "es": 0.2,
                    "zh": 0.9}


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified corpus draw (functions/sampling.py:
    stratified_sample) — oracled since round 15 (VERDICT r14 task 5):
    the seeded-Bernoulli sampleBy was replaced by the deterministic
    md5-threshold draw (the temperature_sample posture), so DuckDB
    replays the exact same keep set.  Per-stratum fractions differ on
    purpose so the CASE path is exercised."""
    from ..functions.sampling import stratified_sample

    lang = _q_language_id(spark, sf_dir)
    kept = stratified_sample(_docs(spark, sf_dir), lang,
                             _STRAT_FRACTIONS)
    return kept.select("doc_id", "lang_pred", "n_chars")


def _stratified_sample_sql() -> str:
    # u(doc): first 6 md5 hex digits of 'doc_id:42' over 16^6 — the
    # exact expression stratified_sample evaluates (seed salt 42)
    u = " + ".join(
        "(strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS "
        f"VARCHAR) || ':42'), {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6))
    case = "CASE " + " ".join(
        f"WHEN l.lang_pred = '{k}' THEN {round(float(v), 6)}"
        for k, v in sorted(_STRAT_FRACTIONS.items())) + " ELSE 0.0 END"
    return f"""
WITH {_WORDS_CTE},
{_lang_pred_ctes()}
SELECT d.doc_id, l.lang_pred, d.n_chars
FROM documents d JOIN langp l ON d.doc_id = l.doc_id
WHERE (CAST({u} AS DOUBLE) / 16777216.0) < ({case})
"""


# ---------------------------------------------------------------------------
# capstone: composed corpus-prep pipeline (filter -> dedup -> stats)
# ---------------------------------------------------------------------------

def _q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline as one composed query: quality-filter the
    corpus, drop exact duplicates (keep lowest doc_id), then summarize the
    surviving token budget per predicted language."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id", "text",
        token_count("text").cast("long").alias("n_tokens"),
        quality_score("text").alias("quality"),
    ).where(F.col("quality") >= 0.3)
    wdup = W.partitionBy(F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")),
                                                        r"\s+", " ")))) \
        .orderBy("doc_id")
    kept = scored.withColumn("rn", F.row_number().over(wdup)).where(
        F.col("rn") == 1
    )
    lang = _q_language_id(spark, sf_dir)
    return (
        kept.join(lang, "doc_id")
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.sum("quality") / F.count(F.lit(1)), 6).alias("avg_quality"),
        )
    )


def _corpus_prep_sql() -> str:
    lang_sql = _lang_id_sql()
    quality_sql = _quality_sql()
    return rf"""
WITH q AS ({quality_sql}),
lp AS ({lang_sql}),
scored AS (
  SELECT d.doc_id, d.text, q.n_tokens, q.quality
  FROM documents d JOIN q ON d.doc_id = q.doc_id
  WHERE q.quality >= 0.3
),
kept AS (
  SELECT doc_id, n_tokens, quality FROM (
    SELECT doc_id, n_tokens, quality,
           row_number() OVER (
             PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
             ORDER BY doc_id) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT lang_pred,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(sum(quality) / count(*), 6) AS avg_quality
FROM kept JOIN lp USING (doc_id)
GROUP BY lang_pred
"""


# ---------------------------------------------------------------------------
# capstone v2: the FULL corpus-prep pipeline in one plan
# quality filter -> exact dedup -> LSH+Jaccard near-dup removal ->
# token-budget shard packing -> per-language corpus stats.
# Every stage is the scale-shaped form (bucketed LSH, no all-pairs join);
# the oracle mirrors the composition stage for stage.
# ---------------------------------------------------------------------------

def _q_corpus_prep_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id", "text",
        token_count("text").cast("long").alias("n_tokens"),
        quality_score("text").alias("quality"),
    ).where(F.col("quality") >= 0.3)
    wdup = W.partitionBy(
        F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    ).orderBy("doc_id")
    kept = (
        scored.withColumn("rn", F.row_number().over(wdup))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    from ..functions.text import shingles

    kept_docs = kept.select("doc_id", "text")
    sh = pin(shingles(kept_docs))  # shared by LSH + Jaccard verify
    # pair-local verification references the candidate frame twice
    # (candidate-doc filter + pair join) — cache it so the LSH subtree
    # executes once, same as the standalone near_dup_verified plan
    cand = pin(dedup.minhash_lsh_pairs(kept_docs, shingle_df=sh))
    near = dedup.verify_jaccard(kept_docs, cand, threshold=0.5,
                                shingle_df=sh)
    drop = near.select(F.col("doc_b").alias("doc_id")).distinct()
    surv = kept.join(drop, "doc_id", "left_anti")
    # scale-safe shard assignment: ranged exclusive prefix sum (no
    # unpartitioned window anywhere in the capstone plan)
    from ..operators.sequences import ranged_prefix_sum

    packed = ranged_prefix_sum(
        surv.select("doc_id", "n_tokens", "quality"),
        ["doc_id"], "n_tokens", out_col="_cum", exclusive=True,
    ).select(
        "doc_id", "n_tokens", "quality",
        (F.col("_cum") / 10_000).cast("long").alias("shard_id"),
    )
    lang = _q_language_id(spark, sf_dir)
    return (
        packed.join(lang, "doc_id")
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.countDistinct("shard_id").alias("n_shards"),
            F.round(F.sum("quality") / F.count(F.lit(1)), 6).alias("avg_quality"),
        )
    )


def _corpus_prep_full_sql() -> str:
    lang_sql = _lang_id_sql()
    quality_sql = _quality_sql()
    # the shingle/LSH/Jaccard fragments are written over `documents`;
    # re-point them at the deduped `kept` set
    lsh_over_kept = (_buckets_cte() + """,
sized AS (SELECT band, bucket, count(*) AS n FROM bk GROUP BY 1, 2),
bk2 AS (SELECT bk.doc_id, bk.band, bk.bucket
        FROM bk JOIN sized USING (band, bucket) WHERE n <= 1000),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bk2 a
         JOIN bk2 b ON a.band = b.band AND a.bucket = b.bucket
                   AND a.doc_id < b.doc_id),
dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN dsh a ON a.doc_id = c.doc_a
  JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
near AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) >= 0.5
)""").replace("FROM documents", "FROM kept")
    return rf"""
WITH q AS ({quality_sql}),
lp AS ({lang_sql}),
scored AS (
  SELECT d.doc_id, d.text, q.n_tokens, q.quality
  FROM documents d JOIN q ON d.doc_id = q.doc_id
  WHERE q.quality >= 0.3
),
kept AS (
  SELECT doc_id, text, n_tokens, quality FROM (
    SELECT doc_id, text, n_tokens, quality,
           row_number() OVER (
             PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
             ORDER BY doc_id) AS rn
    FROM scored
  ) WHERE rn = 1
),
{lsh_over_kept},
surv AS (
  SELECT k.doc_id, k.n_tokens, k.quality FROM kept k
  WHERE k.doc_id NOT IN (SELECT doc_b FROM near)
),
packed AS (
  SELECT doc_id, n_tokens, quality,
         CAST(floor(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 10000.0)
              AS BIGINT) AS shard_id
  FROM surv
)
SELECT lang_pred,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       count(DISTINCT shard_id) AS n_shards,
       round(sum(quality) / count(*), 6) AS avg_quality
FROM packed JOIN lp USING (doc_id)
GROUP BY lang_pred
"""


# ---------------------------------------------------------------------------
# round-4 corpus operators: passage dedup, chunking, PII scrub, split, stats
# ---------------------------------------------------------------------------

def _q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import passage_dup_summary

    return passage_dup_summary(_docs(spark, sf_dir), w=8)


_PASSAGE_DEDUP_SQL = f"""
WITH {_WORDS_CTE},
b AS (
  SELECT doc_id, md5(array_to_string(ws[s+1:s+8], ' ')) AS bh,
         least(len(ws), s+8) - s AS bl
  FROM w, unnest(generate_series(0, greatest(len(ws) - 1, 0), 8)) AS g(s)
),
st AS (SELECT bh, count(DISTINCT doc_id) AS nd FROM b WHERE bl = 8 GROUP BY 1)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(CASE WHEN bl = 8 AND nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_blocks
FROM b LEFT JOIN st USING (bh)
GROUP BY 1
"""


def _q_passage_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-removal twin of passage_dedup: cross-doc-duplicated full-width
    blocks removed (global first occurrence kept), text reassembled; the
    gate row hashes the reassembled text (arrays/long strings don't
    canonicalize at the gate)."""
    from ..functions.text import passage_rewrite

    return passage_rewrite(_docs(spark, sf_dir), w=8).select(
        "doc_id", "n_blocks", "n_removed",
        F.md5("clean_text").alias("clean_hash"),
    )


_PASSAGE_REWRITE_SQL = f"""
WITH {_WORDS_CTE},
b AS (
  SELECT doc_id,
         s // 8 AS bi,
         array_to_string(ws[s+1:s+8], ' ') AS bt,
         least(len(ws), s+8) - s AS bl,
         doc_id * 1000000 + (s // 8) AS k
  FROM w, unnest(generate_series(0, greatest(len(ws) - 1, 0), 8)) AS g(s)
),
st AS (SELECT md5(bt) AS bh, count(DISTINCT doc_id) AS nd, min(k) AS first_k
       FROM b WHERE bl = 8 GROUP BY 1),
f AS (
  SELECT b.doc_id, b.bi, b.bt,
         COALESCE(b.bl = 8 AND st.nd > 1 AND b.k != st.first_k, FALSE) AS rm
  FROM b LEFT JOIN st ON md5(b.bt) = st.bh
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       md5(COALESCE(string_agg(CASE WHEN NOT rm THEN bt END, ' ' ORDER BY bi),
                    '')) AS clean_hash
FROM f
GROUP BY 1
"""


def _q_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-level ExactSubstr profile (Lee et al. 2021) — maximal spans of
    >= 30 chars shared verbatim across >= 2 docs; complements the
    word-block passage family by catching shifted / boundary-straddling
    duplication.  See functions/text.py:exact_substring_spans for the
    scale analysis (one shuffle on a fixed-width gram hash, per-doc
    island merge, no suffix array / no all-pairs)."""
    from ..functions.text import exact_substring_spans

    return exact_substring_spans(_docs(spark, sf_dir), min_len=30)


_EXACT_SUBSTR_SQL = """
WITH n AS (
  SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
  FROM documents
),
p AS (
  SELECT doc_id, s, substr(t, s + 1, 30) AS g
  FROM n, unnest(generate_series(0, length(t) - 30)) AS u(s)
  WHERE length(t) >= 30
),
d AS (SELECT g FROM p GROUP BY g HAVING min(doc_id) != max(doc_id)),
h AS (SELECT p.doc_id, p.s FROM p JOIN d USING (g)),
m AS (
  SELECT doc_id, s,
         max(s + 30) OVER (PARTITION BY doc_id ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pe
  FROM h
),
i AS (
  SELECT doc_id, s,
         sum(CASE WHEN pe IS NULL OR s > pe THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s) AS isl
  FROM m
),
sp AS (SELECT doc_id, isl, min(s) AS s0, max(s) + 30 AS s1
       FROM i GROUP BY 1, 2),
a AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
         CAST(sum(s1 - s0) AS BIGINT) AS dup_chars
  FROM sp GROUP BY 1
)
SELECT n.doc_id,
       CAST(length(n.t) AS BIGINT) AS doc_len,
       COALESCE(a.n_dup_spans, 0) AS n_dup_spans,
       COALESCE(a.dup_chars, 0) AS dup_chars
FROM n LEFT JOIN a USING (doc_id)
"""


def _q_exact_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-span removal twin of exact_substring_spans: cross-doc
    duplicated spans (>= 30 chars) cut from the normalized text,
    corpus-wide first occurrence kept.  See
    functions/text.py:exact_substring_rewrite for the single-exchange
    window plan."""
    from ..functions.text import exact_substring_rewrite

    return exact_substring_rewrite(_docs(spark, sf_dir), min_len=30)


_EXACT_SUBSTR_REWRITE_SQL = """
WITH n AS (
  SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
  FROM documents
),
nn AS (SELECT doc_id, t, length(t) AS len FROM n),
p AS (
  SELECT doc_id, s, substr(t, s + 1, 30) AS g
  FROM nn, unnest(generate_series(0, len - 30)) AS u(s)
  WHERE len >= 30
),
k AS (
  SELECT doc_id, s,
         min(doc_id) OVER (PARTITION BY g) AS lo,
         max(doc_id) OVER (PARTITION BY g) AS hi,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, s) AS rn
  FROM p
),
h AS (SELECT doc_id, s FROM k WHERE lo != hi AND rn > 1),
m AS (
  SELECT doc_id, s,
         max(s + 30) OVER (PARTITION BY doc_id ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pe
  FROM h
),
i AS (
  SELECT doc_id, s,
         sum(CASE WHEN pe IS NULL OR s > pe THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s) AS isl
  FROM m
),
sp AS (SELECT doc_id, isl, min(s) AS s0, max(s) + 30 AS s1
       FROM i GROUP BY 1, 2),
segs AS (
  SELECT doc_id,
         coalesce(lag(s1) OVER (PARTITION BY doc_id ORDER BY s0), 0) AS a,
         s0 AS b
  FROM sp
  UNION ALL
  SELECT sp.doc_id, max(sp.s1) AS a, any_value(nn.len) AS b
  FROM sp JOIN nn USING (doc_id) GROUP BY sp.doc_id
),
agg AS (
  SELECT s.doc_id,
         string_agg(substr(nn.t, s.a + 1, s.b - s.a), '' ORDER BY s.a)
           AS clean_text
  FROM segs s JOIN nn USING (doc_id) GROUP BY s.doc_id
),
st AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed_spans,
         CAST(sum(s1 - s0) AS BIGINT) AS removed_chars
  FROM sp GROUP BY 1
)
SELECT nn.doc_id,
       CAST(nn.len AS BIGINT) AS doc_len,
       COALESCE(st.n_removed_spans, 0) AS n_removed_spans,
       COALESCE(st.removed_chars, 0) AS removed_chars,
       COALESCE(agg.clean_text, nn.t) AS clean_text
FROM nn LEFT JOIN st USING (doc_id) LEFT JOIN agg USING (doc_id)
"""


def _q_exact_substring_profile_rewrite(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """FUSED ExactSubstr profile + rewrite off ONE gram exchange
    (functions/text.py:exact_substring_profile_and_rewrite): the shared
    position stream is windowed once, the duplicated-hit set cached, and
    both per-doc tails read it — the combined cost is well under the sum
    of the two standalone operators (A/B in experiments/substr_scale.py).
    Output semantics pinned identical to the standalone rows by pytest
    and by this combined oracle (their two oracles joined on doc_id)."""
    from ..functions.text import exact_substring_profile_and_rewrite

    return exact_substring_profile_and_rewrite(_docs(spark, sf_dir),
                                               min_len=30)


_EXACT_SUBSTR_COMBINED_SQL = f"""
SELECT p.doc_id, p.doc_len, p.n_dup_spans, p.dup_chars,
       r.n_removed_spans, r.removed_chars, r.clean_text
FROM ({_EXACT_SUBSTR_SQL}) p
JOIN ({_EXACT_SUBSTR_REWRITE_SQL}) r ON p.doc_id = r.doc_id
"""


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 8 BPE merges on the corpus (functions/bpe.py) and emit the
    ordered merge table.  Uses the production-shaped driver-local trainer
    (bpe_train_local: ONE corpus-scale Spark shuffle to the Zipf-small
    word-frequency table, then a local incremental merge loop — the
    SentencePiece/HF shape), asserted merge-for-merge identical to the
    distributed twin and the pure-Python reference in tests/test_bpe.py.
    EAGER by design (the collect of the word table IS the algorithm),
    exempted from the lazy-build guard alongside the pyspark.ml training
    queries — and rows-only at the gate: the iterative argmax chain is not
    reasonably SQL-expressible (the stated driver policy for iterative
    algorithms)."""
    from ..functions.bpe import bpe_train_local

    merges = bpe_train_local(_docs(spark, sf_dir), n_merges=8)
    rows = [(i, l, r, c) for i, (l, r, c) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank int, left string, right string, pair_count long")


def _q_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenization of the corpus (functions/unigram.py):
    train a 200-piece vocabulary by EM over the word-frequency table
    (driver-local, the SentencePiece posture — same split as
    bpe_train_local) and Viterbi-segment every doc.  EAGER by design and
    rows-only at the gate (iterative EM is not SQL-expressible — the
    stated policy); the trainer's LL monotonicity and the Viterbi
    applier are pytest-pinned."""
    from ..functions.unigram import unigram_segment, unigram_train

    docs = _docs(spark, sf_dir)
    pieces, _ = unigram_train(docs, vocab_size=200)
    return unigram_segment(docs, pieces)


def _q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the token vocabulary artifact from trained merges
    (functions/bpe.py:bpe_vocab — ids over corpus alphabet then merge
    products in rank order, the HF tokenizer.json model.vocab shape),
    completing the tokenizer interchange story bpe_export/bpe_import
    started.  EAGER by design (training + the alphabet collect ARE the
    algorithm) and rows-only at the gate, same stated policy as
    bpe_merges; the derivation and artifact round-trip are pytest-pinned
    in tests/test_bpe.py."""
    from ..functions.bpe import bpe_train_local, bpe_vocab, word_frequencies

    docs = _docs(spark, sf_dir)
    merges = bpe_train_local(docs, n_merges=8)
    alphabet = [
        r["ch"] for r in word_frequencies(docs)
        .select(F.explode(F.split("word", "")).alias("ch"))
        .where(F.length("ch") > 0).distinct().collect()
    ]
    return spark.createDataFrame(
        bpe_vocab(merges, alphabet),
        "token_id int, token string, kind string")


def _q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a realistic-depth merge list (up to 1,000 merges — the
    driver-local trainer makes this seconds, not hours) and tokenize the
    whole corpus with the rank-priority applier
    (functions/bpe.py:segment_words_ranked — each DISTINCT word encoded
    once by the HF-tokenizers apply loop inside one Arrow-batched
    mapInPandas, broadcast-joined back; order-preserving per-doc
    reassembly).  The trainer and applier now share one scale story: the
    fold applier's per-merge expression chain capped it at toy depths,
    this row exercises the production pair end-to-end.  Rows-only at the
    gate for the same stated reason as bpe_merges (the training argmax
    chain is not SQL-expressible, and the tokenization depends on it);
    the applier is pinned token-identical to the fold twin and the
    pure-Python reference applier in tests/test_bpe.py."""
    from ..functions.bpe import bpe_segment, bpe_train_local

    docs = _docs(spark, sf_dir)
    merges = bpe_train_local(docs, n_merges=1000)
    return bpe_segment(docs, merges, apply_method="ranked")


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), window=64, stride=48)


_CHUNK_SQL = f"""
WITH {_WORDS_CTE},
c AS (
  SELECT doc_id, CAST(s // 48 AS INTEGER) AS chunk_idx, ws[s+1:s+64] AS ck
  FROM w, unnest(generate_series(0, greatest(len(ws) - 1, 0), 48)) AS g(s)
)
SELECT doc_id, chunk_idx,
       CAST(len(ck) AS BIGINT) AS n_tokens,
       md5(array_to_string(ck, ' ')) AS chunk_hash
FROM c
"""


def _q_html_extract_main(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus front door: synthesize a deterministic HTML page around
    each document's text inside the query (the live-codec synthesis
    pattern — no HTML corpus ships with the testdata) and run the
    zero-shuffle jusText-lite extraction (functions/html.py): script/style
    strip, block segmentation at closing tags, integer link-density
    scoring, main-content reassembly.  The oracle synthesizes the
    IDENTICAL page in SQL and extracts with the IDENTICAL regex patterns,
    so synthesis + extraction are both hash-checked end-to-end."""
    from ..functions.html import extract_main_content, synthesize_page

    docs = _docs(spark, sf_dir)
    pages = docs.select("doc_id", synthesize_page().alias("html"))
    return extract_main_content(pages)


def _synth_page_cte(text_expr: str = "text") -> str:
    """``page AS (...)`` CTE building the IDENTICAL string that
    functions/html.py:synthesize_page builds — shared by the extraction,
    outlink, and web-capstone oracles.  ``text_expr`` is the SQL
    expression for the body text (the capstone passes the sentencified
    form)."""
    return ("""page AS (
  SELECT doc_id,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
         '</title><style>body { margin: 0; font: 14px serif }</style>""" +
            """<script type="text/javascript">var tracker = "on"; """ +
            r"""load();</script></head><body>' ||
         '<nav><a href="/">Home</a> <a href="/docs">Docs</a> """ +
            r"""<a href="/about">About</a></nav><div class="main"><p>' ||
         regexp_replace(""" + text_expr + r""", '\. ', '.</p><p>', 'g') ||
         '</p></div><div class="sidebar">""" +
            """<li><a href="/rel/1">Related article one</a></li>""" +
            """<li><a href="/rel/2">Related article two</a></li>""" +
            """<li><a href="/rel/3">Related article three</a></li>""" +
            """</div><footer>(c) 2026 <a href="/privacy">Privacy """ +
            """Policy</a> <a href="/terms">Terms of Service</a> """ +
            """<a href="/contact">Contact</a></footer></body></html>'
            AS html
  FROM documents
)""")


def _html_extract_sql(text_expr: str = "text") -> str:
    from ..functions.html import (ANCHOR_RE, BLOCK_SPLIT_RE, SCRIPT_RE,
                                  STYLE_RE, TAG_RE, WS_RE)

    strip_txt = ("trim(regexp_replace(regexp_replace({src}, '"
                 + TAG_RE + "', ' ', 'g'), '" + WS_RE + "', ' ', 'g'))")
    return ("""
WITH """ + _synth_page_cte(text_expr) + """,
blocks AS (
  SELECT doc_id,
         string_split_regex(
           regexp_replace(regexp_replace(html, '""" + SCRIPT_RE +
            "', ' ', 'g'), '" + STYLE_RE + "', ' ', 'g'), '" +
            BLOCK_SPLIT_RE + """') AS bl
  FROM page
),
b AS (
  SELECT doc_id, unnest(bl) AS block, generate_subscripts(bl, 1) AS bidx
  FROM blocks
),
m AS (
  SELECT doc_id, bidx, """ + strip_txt.format(src="block") + """ AS txt,
         COALESCE(list_sum(list_transform(
           regexp_extract_all(block, '""" + ANCHOR_RE + """', 1),
           a -> length(""" + strip_txt.format(src="a") + """))), 0)
           AS anchor_len
  FROM b
),
nz AS (SELECT doc_id, bidx, txt, length(txt) AS txt_len, anchor_len
       FROM m WHERE length(txt) > 0),
flag AS (SELECT *, (txt_len >= 20 AND anchor_len * 3 <= txt_len * 1)
                   AS keep FROM nz),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(COALESCE(sum(CASE WHEN keep THEN txt_len END), 0) AS BIGINT)
           AS kept_chars,
         CAST(COALESCE(sum(CASE WHEN NOT keep THEN txt_len END), 0)
           AS BIGINT) AS dropped_chars,
         COALESCE(string_agg(CASE WHEN keep THEN txt END, ' '
                             ORDER BY bidx), '') AS main_text
  FROM flag GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(n_blocks, 0) AS BIGINT) AS n_blocks,
       CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(kept_chars, 0) AS BIGINT) AS kept_chars,
       CAST(COALESCE(dropped_chars, 0) AS BIGINT) AS dropped_chars,
       COALESCE(main_text, '') AS main_text
FROM documents d LEFT JOIN agg USING (doc_id)
""")


# The synthetic corpus is a periodless word stream, so sentence-shaped
# operators would be vacuous on it (every doc = one run-on sentence).
# Deterministic sentencification — a period after every 12th word — gives
# them real structure, the same synthesis convention as the URLs/pages:
# both engines run the identical regex, so parity covers the synthesis.
_SENT_RE = r"((\S+ ){11}\S+) "


def _sentencified(text_col: str = "text"):
    return F.regexp_replace(F.col(text_col), _SENT_RE, r"$1. ")


_SENT_SQL = r"regexp_replace({c}, '((\S+ ){{11}}\S+) ', '\1. ', 'g')"


def _synth_warc_col():
    """The two-record WARC stream expression (response + metadata) —
    ONE rendering shared by the plain warc_parse row and the warc.gz
    fixture (which splits it MECHANICALLY at the record marker before
    gzipping members, so the record semantics cannot drift)."""
    from ..functions.html import synthesize_page

    crlf = "\r\n"
    page = synthesize_page()
    meta = F.concat(F.lit("fetchTimeMs: "), F.col("doc_id").cast("string"))
    uri = F.concat(F.lit("https://site-"),
                   (F.col("doc_id") % 17).cast("string"),
                   F.lit(".example.com/page/"),
                   F.col("doc_id").cast("string"))
    return F.concat(
        F.lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf
              + "WARC-Target-URI: "), uri,
        F.lit(crlf + "Content-Length: "),
        F.length(page).cast("string"),
        F.lit(crlf + crlf), page,
        F.lit("WARC/1.0" + crlf + "WARC-Type: metadata" + crlf
              + "Content-Length: "),
        F.length(meta).cast("string"),
        F.lit(crlf + crlf), meta,
    )


_WARC_OUT_COLS = ["doc_id", "rec_idx", "warc_type", "target_uri",
                  "content_length", "payload_ok"]


def _q_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion — the step BEFORE extraction in a CommonCrawl-shaped
    pipeline: synthesize a two-record WARC stream per doc (a response
    record carrying the synthesized HTML page + a metadata record), parse
    it back with functions/html.py:parse_warc_records, and emit parsed
    headers + a payload fingerprint.  Synthesis simplification: payloads
    run to the next record marker (no trailing CRLF pair), so declared
    Content-Length must equal the parsed payload length exactly —
    payload_ok is a per-record parser self-check the gate hashes."""
    from ..functions.html import parse_warc_records

    src = _docs(spark, sf_dir).select("doc_id",
                                      _synth_warc_col().alias("warc"))
    return parse_warc_records(src).select(
        *_WARC_OUT_COLS, F.md5("payload").alias("payload_md5"),
    )


def _warc_gz_fixture_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warc.gz fixture corpus (shared by warc_gz_parse and the
    cdx_index row — ONE rendering of the member layout): the
    _synth_warc_col stream split mechanically at the marker and
    gzipped one member per record, the warc.gz convention."""
    import gzip as _gzip

    import pandas as pd

    from ..functions.html import WARC_MARKER

    src = _docs(spark, sf_dir).select("doc_id",
                                      _synth_warc_col().alias("warc"))

    def pack(batches):
        for pdf in batches:
            def gz(text: str) -> bytes:
                recs = [WARC_MARKER + r
                        for r in text.split(WARC_MARKER) if r]
                return b"".join(
                    _gzip.compress(r.encode("utf-8"), compresslevel=6)
                    for r in recs)

            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "content": pdf["warc"].map(gz),
            })

    return src.mapInPandas(pack, "doc_id long, content binary")


def _q_warc_gz_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL CommonCrawl container: the same two-record WARC stream
    compressed as one gzip member PER RECORD (the warc.gz convention),
    decompressed bounded (functions/html.py:gunzip_members — gzip's
    declared ISIZE is untrusted, so output is budgeted against payload
    size) and parsed by the SAME parse_warc_records rendering the
    plain row uses.  The fixture gzips in Arrow batches after splitting
    the shared _synth_warc_col stream mechanically at the marker; the
    oracle is the plain row's SQL plus the member/record 1:1 contract
    (n_members = 2)."""
    from ..functions.html import parse_warc_gz

    media = _warc_gz_fixture_media(spark, sf_dir)
    return parse_warc_gz(media).select(
        *_WARC_OUT_COLS, F.md5("payload").alias("payload_md5"),
        "n_members",
    )


def _warc_gz_sql() -> str:
    return (f"SELECT w.*, CAST(2 AS INTEGER) AS n_members "
            f"FROM ({_warc_parse_sql()}) w")


def _q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The web-archive INDEXING composition (round 14): warc.gz shards
    -> per-member compressed byte spans + record headers
    (functions/html.py:warc_cdx_entries, each span machine-verified by
    re-gunzipping the raw slice — the CDX range-request contract) ->
    real CDXJ lines (SURT urlkey via the one surt_key rendering,
    member offset/length/filename in the JSON) -> parsed back through
    cdx_parse.  Offsets and compressed lengths cannot be reproduced by
    SQL, so the DECLARED columns are the oracle-stable ones (urlkey,
    ts, url, filename, the response payload md5) plus slice_ok, which
    the in-pass verification pins to 1; the full line including
    offset/length is still built and parsed en route."""
    from ..functions.html import warc_cdx_entries
    from ..functions.urls import cdx_parse, surt_key

    ent = (warc_cdx_entries(_warc_gz_fixture_media(spark, sf_dir))
           .where(F.col("warc_type") == "response"))
    fname = F.format_string("shard-%05d.warc.gz",
                            (F.col("doc_id") % 100).cast("int"))
    ts = F.lit(20250000000000) + F.col("doc_id")
    line = F.format_string(
        '%s %d {"url":"%s","status":"200","mime":"text/html",'
        '"length":"%d","offset":"%d","filename":"%s"}',
        surt_key("target_uri"), ts, F.col("target_uri"),
        F.col("member_length"), F.col("member_offset"), fname)
    parsed = cdx_parse(ent.select(
        "doc_id", "payload_md5", "slice_ok", line.alias("line")))
    return parsed.select(
        "doc_id", "urlkey", "ts", "url", "filename",
        "payload_md5", F.col("slice_ok").cast("int").alias("slice_ok"))


def _cdx_index_sql() -> str:
    return """
WITH """ + _synth_page_cte() + """,
p AS (
  SELECT doc_id,
         'https://site-' || CAST(doc_id % 17 AS VARCHAR)
           || '.example.com/page/' || CAST(doc_id AS VARCHAR) AS url,
         'com,example,site-' || CAST(doc_id % 17 AS VARCHAR)
           || ')/page/' || CAST(doc_id AS VARCHAR) AS urlkey
  FROM documents
),
h AS (SELECT doc_id, md5(html) AS payload_md5 FROM page)
SELECT p.doc_id, p.urlkey,
       CAST(20250000000000 + p.doc_id AS BIGINT) AS ts,
       p.url,
       'shard-' || lpad(CAST(p.doc_id % 100 AS VARCHAR), 5, '0')
         || '.warc.gz' AS filename,
       h.payload_md5,
       CAST(1 AS INTEGER) AS slice_ok
FROM p JOIN h USING (doc_id)
"""


def _q_wet_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WET companion format (round 14 — completing the
    CommonCrawl web-archive triple: WARC parse, CDX index, WET
    conversion): warc.gz responses -> jusText-lite main-content
    extraction -> 'WARC-Type: conversion' records rendered with real
    Content-Length -> parsed BACK through the one
    parse_warc_records rendering.  The oracle chains the shared page
    + extraction CTEs and reproduces every parsed column; lengths are
    character counts on both sides (the fixture corpus is ASCII —
    documented, like the md5-over-utf8 convention)."""
    from ..functions.html import (extract_main_content, parse_warc_gz,
                                  parse_warc_records)

    # pinned (round-15): the extraction branch AND the uri join-back
    # both read recs — unpinned, the Arrow gunzip+parse of every shard
    # executed twice
    recs = pin(parse_warc_gz(_warc_gz_fixture_media(spark, sf_dir))
               .where(F.col("warc_type") == "response"))
    ex = extract_main_content(
        recs.select("doc_id", F.col("payload").alias("html")))
    wet_src = ex.join(recs.select("doc_id", "target_uri"), "doc_id")
    wet = wet_src.select(
        "doc_id",
        F.format_string(
            "WARC/1.0\r\nWARC-Type: conversion\r\n"
            "WARC-Target-URI: %s\r\nContent-Length: %d\r\n\r\n%s",
            F.col("target_uri"), F.length("main_text"),
            F.col("main_text")).alias("warc"))
    out = parse_warc_records(wet)
    return out.select(
        "doc_id", "warc_type", "target_uri", "content_length",
        "payload_ok", F.md5("payload").alias("payload_md5"))


def _wet_conversion_sql() -> str:
    return ("""
WITH x AS (""" + _html_extract_sql() + """)
SELECT doc_id,
       'conversion' AS warc_type,
       'https://site-' || CAST(doc_id % 17 AS VARCHAR)
         || '.example.com/page/' || CAST(doc_id AS VARCHAR)
         AS target_uri,
       CAST(length(main_text) AS BIGINT) AS content_length,
       CAST(1 AS INTEGER) AS payload_ok,
       md5(main_text) AS payload_md5
FROM x
""")


def _q_wat_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WAT companion format (round 14 — with WARC parse, CDX
    index, and WET conversion this closes the CommonCrawl format
    family): per warc.gz response, render the WAT metadata record —
    a 'WARC-Type: metadata' record whose JSON payload envelopes the
    original WARC headers and the HTML link metadata (raw/distinct
    href counts + the sorted-target fingerprint, the one
    extract_links rendering) — then parse the record back through
    the one WARC parser and the JSON back through from_json.  The
    oracle chains the shared page + href CTEs."""
    from ..functions.html import parse_warc_gz, parse_warc_records
    from ..functions.quality import extract_links

    # pinned (round-15): the link-extraction branch AND the header join
    # both read recs — unpinned, the Arrow gunzip+parse executed twice
    recs = pin(parse_warc_gz(_warc_gz_fixture_media(spark, sf_dir))
               .where(F.col("warc_type") == "response"))
    links = extract_links(
        recs.select("doc_id", F.col("payload").alias("html")))
    j = recs.select("doc_id", "target_uri", "content_length").join(
        links, "doc_id")
    body = F.format_string(
        '{"Envelope":{"WARC-Header-Metadata":{"WARC-Type":"response",'
        '"WARC-Target-URI":"%s","Content-Length":%d},'
        '"Payload-Metadata":{"HTML-Metadata":{"Links":'
        '{"n":%d,"n_unique":%d,"hash":"%s"}}}}}',
        F.col("target_uri"), F.col("content_length"),
        F.col("n_links"), F.col("n_unique_targets"),
        F.col("targets_hash"))
    wat = j.select(
        "doc_id",
        F.format_string(
            "WARC/1.0\r\nWARC-Type: metadata\r\n"
            "WARC-Target-URI: %s\r\nContent-Length: %d\r\n\r\n%s",
            F.col("target_uri"), F.length(body), body).alias("warc"))
    out = parse_warc_records(wat)
    env_schema = (
        "Envelope struct<`WARC-Header-Metadata` struct<"
        "`WARC-Type` string, `WARC-Target-URI` string, "
        "`Content-Length` bigint>, `Payload-Metadata` struct<"
        "`HTML-Metadata` struct<Links struct<"
        "n bigint, n_unique bigint, hash string>>>>")
    env = F.from_json(F.col("payload"), env_schema)["Envelope"]
    hdr = env["WARC-Header-Metadata"]
    lnk = env["Payload-Metadata"]["HTML-Metadata"]["Links"]
    return out.select(
        "doc_id", "warc_type", "target_uri", "payload_ok",
        hdr["WARC-Type"].alias("orig_type"),
        hdr["Content-Length"].alias("orig_length"),
        lnk["n"].alias("n_links"),
        lnk["n_unique"].alias("n_unique_targets"),
        lnk["hash"].alias("targets_hash"))


def _wat_metadata_sql() -> str:
    return ("""
WITH """ + _synth_page_cte() + """,
""" + _href_ctes() + """
SELECT doc_id,
       'metadata' AS warc_type,
       'https://site-' || CAST(doc_id % 17 AS VARCHAR)
         || '.example.com/page/' || CAST(doc_id AS VARCHAR)
         AS target_uri,
       CAST(1 AS INTEGER) AS payload_ok,
       'response' AS orig_type,
       CAST(clen AS BIGINT) AS orig_length,
       CAST(len(targets) AS BIGINT) AS n_links,
       CAST(len(uniq) AS BIGINT) AS n_unique_targets,
       md5(array_to_string(uniq, chr(10))) AS targets_hash
FROM u
""")


def _q_pack_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-respecting sample packing
    (functions/sampling.py:pack_samples — docs never split, contrast
    the pack_sequences concat-and-chunk row): greedy
    next-fit-in-order into 96-token sequences within 50-doc ranked
    shards; over-long docs truncate (the corpus tops out at 99
    tokens, so the truncation arm fires at every SF).  The oracle
    replays the greedy with a recursive CTE walking each shard's
    rank chain."""
    from ..functions.sampling import pack_samples

    return pack_samples(_docs(spark, sf_dir), max_len=96,
                        shard_docs=50)


_PACK_SAMPLES_SQL = r"""
WITH RECURSIVE counted AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END
           AS n_tokens
  FROM documents
),
r AS (
  SELECT doc_id, n_tokens,
         row_number() OVER (ORDER BY doc_id) - 1 AS rnk
  FROM counted
),
t AS (
  SELECT doc_id, least(n_tokens, 96) AS take,
         CASE WHEN n_tokens > 96 THEN 1 ELSE 0 END AS trunc,
         rnk // 50 AS shard_id, rnk % 50 AS pos
  FROM r
),
walk AS (
  SELECT shard_id, pos, doc_id, take, trunc,
         CAST(0 AS BIGINT) AS seq_idx, take AS fill
  FROM t WHERE pos = 0
  UNION ALL
  SELECT t.shard_id, t.pos, t.doc_id, t.take, t.trunc,
         CASE WHEN w.fill + t.take <= 96 THEN w.seq_idx
              ELSE w.seq_idx + 1 END,
         CASE WHEN w.fill + t.take <= 96 THEN w.fill + t.take
              ELSE t.take END
  FROM walk w JOIN t ON t.shard_id = w.shard_id AND t.pos = w.pos + 1
)
SELECT shard_id, seq_idx,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(trunc) AS BIGINT) AS n_truncated,
       CAST(sum(take) AS BIGINT) AS tokens_used,
       CAST(96 - sum(take) AS BIGINT) AS padding_waste,
       md5(string_agg(CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
           || ':' || CAST(doc_id AS VARCHAR), '|' ORDER BY pos))
         AS docs_md5
FROM walk GROUP BY 1, 2
"""


def _q_id3_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2 frame walk (functions/mp3.py:id3_frames) — the audio
    provenance analogue of jpeg_exif_stats — over real tagged MP3
    streams (hand-laid-out tags + the existing synthetic frame
    train).  Every fourth doc carries NO tag so the has_id3=0 arm
    fires at every SF, and every doc_id %% 4 == 1 doc carries the
    ID3v2.2 layout (round 13 — 3-char ids, 3-byte sizes) so the old
    walk is hash-checked alongside v2.3; the oracle reproduces every
    field from doc_id arithmetic."""
    import pandas as pd

    from ..functions.mp3 import (build_id3v2, build_id3v22,
                                 encode_mp3_frames, id3_stats)

    def pack(batches):
        frames = encode_mp3_frames([9, 10])
        for pdf in batches:
            def mp3(doc_id: int) -> bytes:
                if doc_id % 4 == 3:
                    return frames
                writer = build_id3v22 if doc_id % 4 == 1 else build_id3v2
                tag = writer(
                    f"Track {doc_id % 12}", f"Artist {doc_id % 7}",
                    f"Album {doc_id % 5}", str(2000 + doc_id % 27))
                return tag + frames

            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "content": pdf["doc_id"].map(mp3),
            })

    media = _docs(spark, sf_dir).select("doc_id").mapInPandas(
        pack, "doc_id long, content binary")
    return id3_stats(media)


def _id3_stats_sql() -> str:
    return """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 4 = 3 THEN 0 ELSE 1 END AS INTEGER)
         AS has_id3,
       CASE WHEN doc_id % 4 = 3 THEN NULL
            WHEN doc_id % 4 = 1 THEN '2.2' ELSE '2.3' END AS version,
       CAST(CASE WHEN doc_id % 4 = 3 THEN 0 ELSE 4 END AS INTEGER)
         AS n_frames,
       CASE WHEN doc_id % 4 = 3 THEN NULL
            ELSE 'Track ' || CAST(doc_id % 12 AS VARCHAR) END AS title,
       CASE WHEN doc_id % 4 = 3 THEN NULL
            ELSE 'Artist ' || CAST(doc_id % 7 AS VARCHAR) END AS artist,
       CASE WHEN doc_id % 4 = 3 THEN NULL
            ELSE 'Album ' || CAST(doc_id % 5 AS VARCHAR) END AS album,
       CASE WHEN doc_id % 4 = 3 THEN NULL
            ELSE CAST(2000 + doc_id % 27 AS VARCHAR) END AS year
FROM documents
"""


def _q_pdf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF header/xref/trailer walk (functions/pdffmt.py) over
    minimal classic-xref PDFs with REAL computed offsets (the fixture
    writer lays out objects and derives the xref from actual byte
    positions — string templates would not exercise the offset
    arithmetic).  Pages 1 + doc_id %% 4; every fifth doc carries an
    /Encrypt marker in its trailer so the encryption-triage arm fires
    at every SF."""
    import pandas as pd

    from ..functions.pdffmt import build_pdf, pdf_container_stats

    def pack(batches):
        for pdf in batches:
            def doc(doc_id: int) -> bytes:
                raw = build_pdf(1 + doc_id % 4)
                if doc_id % 5 == 0:
                    raw = raw.replace(
                        b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R")
                return raw

            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "content": pdf["doc_id"].map(doc),
            })

    media = _docs(spark, sf_dir).select("doc_id").mapInPandas(
        pack, "doc_id long, content binary")
    return pdf_container_stats(media)


def _pdf_stats_sql() -> str:
    return """
SELECT doc_id,
       '1.4' AS version,
       CAST(4 + doc_id % 4 AS INTEGER) AS n_objects,
       CAST(1 + doc_id % 4 AS INTEGER) AS n_pages,
       CAST(5 + doc_id % 4 AS INTEGER) AS size_declared,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS has_encrypt,
       CAST(1 AS INTEGER) AS xref_ok,
       CAST(1 AS INTEGER) AS scan_ok
FROM documents
"""


def _q_jpeg_exif_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF metadata walk (functions/jpeg.py:jpeg_exif via the SHARED
    tiff.py IFD rendering) over real JPEG streams: a fixed encoded
    image with a hand-built APP1/Exif segment injected after SOI —
    fixture offsets laid out independently of the reader (a mirrored
    bug cannot hide), every third doc carries NO EXIF so the
    has_exif=0 arm fires at every SF.  The oracle reproduces every
    field from doc_id arithmetic."""
    import numpy as np
    import pandas as pd

    from ..functions.jpeg import build_exif_app1, encode_jpeg

    def pack(batches):
        base = None
        for pdf in batches:
            if base is None:
                px = (np.arange(8 * 8 * 3, dtype=np.uint8)
                      .reshape(8, 8, 3))
                base = encode_jpeg(px, quality=80)

            def jpg(doc_id: int) -> bytes:
                if doc_id % 3 == 2:
                    return base
                app1 = build_exif_app1(
                    1 + doc_id % 8,
                    f"Cam{doc_id % 5}",
                    f"M{doc_id % 3}",
                    f"2026:08:{1 + doc_id % 28:02d} 12:00:00",
                    f"2026:07:{1 + doc_id % 28:02d} 09:30:00")
                return base[:2] + app1 + base[2:]

            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "content": pdf["doc_id"].map(jpg),
            })

    from ..functions.jpeg import jpeg_exif_stats

    media = _docs(spark, sf_dir).select("doc_id").mapInPandas(
        pack, "doc_id long, content binary")
    return jpeg_exif_stats(media)


def _jpeg_exif_sql() -> str:
    day = "lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')"
    return f"""
SELECT doc_id,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 0 ELSE 1 END AS INTEGER)
         AS has_exif,
       CASE WHEN doc_id % 3 = 2 THEN NULL
            ELSE CAST(1 + doc_id % 8 AS INTEGER) END AS orientation,
       CASE WHEN doc_id % 3 = 2 THEN NULL
            ELSE 'Cam' || CAST(doc_id % 5 AS VARCHAR) END AS make,
       CASE WHEN doc_id % 3 = 2 THEN NULL
            ELSE 'M' || CAST(doc_id % 3 AS VARCHAR) END AS model,
       CASE WHEN doc_id % 3 = 2 THEN NULL
            ELSE '2026:08:' || {day} || ' 12:00:00' END AS datetime,
       CASE WHEN doc_id % 3 = 2 THEN NULL
            ELSE '2026:07:' || {day} || ' 09:30:00' END
         AS datetime_original
FROM documents
"""


def _q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus datasheet (functions/profiling.py:
    corpus_datasheet) — the data-card audit row — UNIONED (round 14,
    VERDICT r13 task 7) with one media row per container class
    (functions/profiling.py:media_datasheet) so the data card covers
    the full front door: mp4 movies (index-exact durations + sample
    bytes), ogg audio (granule-clock durations — Opus ticks at 48 kHz
    regardless of the input rate — + body bytes), and pdf text
    (extracted-token and char mass).  Media fixtures are the SHARED
    per-row generators (_mp4/_ogg/_pdf_text_fixture_media); the
    oracle composes ONLY shared renderings: the words CTE, the
    quality m CTE (+ the fingerprint projection), the lang-fold CTEs,
    the per-source folds, and the three shared fixture CTE blocks."""
    from ..functions.multimodal import (mp3_pcm_seam_audit,
                                        mp4_container_stats,
                                        mp4_frame_seam_audit)
    from ..functions.ogg import ogg_container_stats
    from ..functions.profiling import corpus_datasheet, media_datasheet

    text = corpus_datasheet(_docs(spark, sf_dir)).select(
        "*",
        F.lit(None).cast("long").alias("duration_ms_total"),
        F.lit(None).cast("long").alias("payload_bytes"))

    mp4 = mp4_container_stats(
        _mp4_fixture_media(spark, sf_dir)).select(
        "duration_ms",
        (F.coalesce("video_bytes", F.lit(0))
         + F.coalesce("audio_bytes", F.lit(0))).alias("payload_bytes"))
    ogg_raw = ogg_container_stats(_ogg_fixture_media(spark, sf_dir))
    clock = (F.when(F.col("codec") == "opus", F.lit(48000))
             .otherwise(F.col("sample_rate")).cast("long"))
    ogg = ogg_raw.select(
        F.expr("last_granule * 1000").cast("long").alias("_gms"),
        clock.alias("_clk"),
        F.col("body_bytes").alias("payload_bytes"),
    ).select(
        F.expr("_gms div _clk").alias("duration_ms"), "payload_bytes")
    pdf = _q_pdf_text_extract(spark, sf_dir).select(
        F.size(F.split(F.trim("text"), r"\s+")).cast("long")
        .alias("n_tokens"),
        F.col("n_chars").cast("long").alias("payload_bytes"))

    # the two DECIDED media seams (round 15, VERDICT r14 task 3):
    # each line counts files whose typed refusal ACTUALLY fired when
    # the seam front door was executed (mp3-layer3-pcm /
    # mp4-frame-decode) — a datasheet consumer sees exactly how much
    # of the corpus the dependency-free decode path cannot synthesize
    mp3_seam = (mp3_pcm_seam_audit(_docs(spark, sf_dir))
                .where(F.col("refused") == 1)
                .select("duration_ms"))
    mp4_seam = (mp4_frame_seam_audit(_mp4_fixture_media(spark, sf_dir))
                .where(F.col("refused") == 1)
                .select(F.col("video_duration_ms").alias("duration_ms")))
    media = media_datasheet(
        {"mp4:movies": mp4, "ogg:audio": ogg, "pdf:text": pdf,
         "mp3:pcm-seam": mp3_seam, "mp4:frame-seam": mp4_seam}
    ).select(
        "source", "n_docs", "n_tokens",
        F.lit(None).cast("long").alias("n_unique_fp"),
        F.lit(None).cast("long").alias("dup_ppm"),
        F.lit(None).cast("string").alias("top_lang"),
        F.lit(None).cast("long").alias("quality_micros_avg"),
        "duration_ms_total", "payload_bytes")
    return text.unionByName(media)


def _corpus_datasheet_sql() -> str:
    return rf"""
WITH {_WORDS_CTE},
{_quality_m_cte(extra=_FP_EXTRA)},
{_lang_pred_ctes()},
src AS (SELECT doc_id, source FROM documents),
lc AS (
  SELECT d.source, l.lang_pred AS lang, count(*) AS c
  FROM langp l JOIN src d USING (doc_id) GROUP BY 1, 2
),
top AS (
  SELECT source, lang AS top_lang FROM (
    SELECT source, lang,
           row_number() OVER (PARTITION BY source
                              ORDER BY c DESC, lang) AS r
    FROM lc) WHERE r = 1
),
agg AS (
  SELECT d.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(m.n_tok) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT m.fp) AS BIGINT) AS n_unique_fp,
         CAST(sum(CAST(floor({_QUALITY_EXPR} * 1000000) AS BIGINT))
              // count(*) AS BIGINT) AS quality_micros_avg
  FROM m JOIN src d USING (doc_id) GROUP BY 1
),
{_MP4_FIXTURE_CTES.strip()},
{_OGG_FIXTURE_CTES.strip()},
{_PDF_TEXT_CTE.strip()}
SELECT a.source, a.n_docs, a.n_tokens, a.n_unique_fp,
       CAST((1000000 * (a.n_docs - a.n_unique_fp)) // a.n_docs
            AS BIGINT) AS dup_ppm,
       t.top_lang, a.quality_micros_avg,
       CAST(NULL AS BIGINT) AS duration_ms_total,
       CAST(NULL AS BIGINT) AS payload_bytes
FROM agg a JOIN top t USING (source)
UNION ALL
SELECT 'mp4:movies', CAST(count(*) AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
       CAST(NULL AS BIGINT),
       CAST(sum((doc_id % 300 + 1) * 1000) AS BIGINT),
       CAST(sum(CASE WHEN has_v THEN vbytes ELSE 0 END
                + CASE WHEN has_a THEN abytes ELSE 0 END) AS BIGINT)
FROM mp4d
UNION ALL
SELECT 'ogg:audio', CAST(count(*) AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
       CAST(NULL AS BIGINT),
       CAST(sum((960 * m.np * 1000)
                // (CASE WHEN m.doc_id % 2 = 0 THEN 44100
                         ELSE 48000 END)) AS BIGINT),
       CAST(sum(m.ident_len + b.body_sum) AS BIGINT)
FROM oggm m JOIN oggb b USING (doc_id)
UNION ALL
SELECT 'pdf:text', CAST(count(*) AS BIGINT),
       CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
            AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT),
       CAST(sum(length(text)) AS BIGINT)
FROM pdft
UNION ALL
-- the DECIDED media seams (round 15): every fixture MP3 is
-- well-formed, so the executed mp3-layer3-pcm refusal covers all of
-- them; duration replays the frame-walk arithmetic
SELECT 'mp3:pcm-seam', CAST(count(*) AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
       CAST(NULL AS BIGINT),
       CAST(sum((3 + doc_id % 5) * 1152 * 1000 // 44100) AS BIGINT),
       CAST(NULL AS BIGINT)
FROM documents
UNION ALL
-- mp4-frame-decode refuses exactly the files WITH a video track
SELECT 'mp4:frame-seam', CAST(count(*) AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
       CAST(NULL AS BIGINT),
       CAST(sum(vdur) AS BIGINT),
       CAST(NULL AS BIGINT)
FROM mp4d WHERE has_v
"""


def _q_webdataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard manifest (functions/tarfmt.py): ustar walk +
    sample grouping over shards WRITTEN by stdlib tarfile (independent
    writer — the zip_stats cross-validation posture).  Fixture: 1 +
    doc_id %% 3 samples of (.img, .json) pairs, plus a LONE straggler
    file on doc_id %% 12 == 4 so the completeness check has a negative
    arm at every SF.  The oracle reproduces counts, sizes, and the
    length-prefixed names fingerprint from the same arithmetic."""
    import io
    import tarfile

    import pandas as pd

    from ..functions.tarfmt import webdataset_manifest

    def pack(batches):
        for pdf in batches:
            def shard(doc_id: int) -> bytes:
                buf = io.BytesIO()
                with tarfile.open(fileobj=buf, mode="w",
                                  format=tarfile.USTAR_FORMAT) as t:
                    def add(name: str, data: bytes) -> None:
                        ti = tarfile.TarInfo(name)
                        ti.size = len(data)
                        t.addfile(ti, io.BytesIO(data))

                    stem0 = f"{doc_id:012d}"
                    for j in range(1 + doc_id % 3):
                        add(f"{stem0}/{j}.img",
                            b"x" * (10 + (doc_id + j) % 7))
                        add(f"{stem0}/{j}.json",
                            f'{{"id":{doc_id},"j":{j}}}'.encode())
                    if doc_id % 12 == 4:
                        add(f"{stem0}/x.txt", b"lone")
                return buf.getvalue()

            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "content": pdf["doc_id"].map(shard),
            })

    media = _docs(spark, sf_dir).select("doc_id").mapInPandas(
        pack, "doc_id long, content binary")
    return webdataset_manifest(media)


def _webdataset_sql() -> str:
    # width 12, NOT 8: DuckDB's lpad TRUNCATES a string longer than
    # the target width while Python's {:012d} never does — width 12
    # stays above any realistic doc_id (the neighboring oracles'
    # convention; review find)
    stem = "lpad(CAST(doc_id AS VARCHAR), 12, '0')"
    return rf"""
WITH base AS (
  SELECT doc_id, 1 + doc_id % 3 AS s,
         CASE WHEN doc_id % 12 = 4 THEN 1 ELSE 0 END AS strag
  FROM documents
),
f AS (
  SELECT doc_id, s, strag, j,
         {stem} || '/' || CAST(j AS VARCHAR) || '.img' AS nimg,
         {stem} || '/' || CAST(j AS VARCHAR) || '.json' AS njs,
         10 + (doc_id + j) % 7 AS img_len,
         length('{{"id":' || CAST(doc_id AS VARCHAR) || ',"j":' ||
                CAST(j AS VARCHAR) || '}}') AS js_len
  FROM base,
       LATERAL (SELECT unnest(generate_series(0, s - 1)) AS j) t
),
agg AS (
  SELECT doc_id, any_value(s) AS s, any_value(strag) AS strag,
         CAST(sum(img_len + js_len) AS BIGINT) AS sz,
         string_agg(
           CAST(length(nimg) AS VARCHAR) || ':' || nimg || '|' ||
           CAST(length(njs) AS VARCHAR) || ':' || njs,
           '|' ORDER BY j) AS canon
  FROM f GROUP BY doc_id
)
SELECT doc_id,
       CAST(2 * s + strag AS INTEGER) AS n_entries,
       CAST(s + strag AS INTEGER) AS n_samples,
       CAST(sz + strag * 4 AS BIGINT) AS size_total,
       CAST(s AS INTEGER) AS complete_samples,
       md5(canon || CASE WHEN strag = 1
             THEN '|' || CAST(length({stem} || '/x.txt') AS VARCHAR)
                  || ':' || {stem} || '/x.txt'
             ELSE '' END) AS names_md5
FROM agg
"""


def _q_zip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP central-directory walk (functions/zipfmt.py) over archives
    WRITTEN by stdlib zipfile — parser and writer are independent
    implementations, so the walk's offsets/signatures are
    cross-validated, not self-consistent (the DEFLATE-vector posture).
    Fixture: 1 + doc_id %% 4 entries, even index deflated / odd stored,
    payload 'doc{id}-{i},' repeated 1 + (id+i) %% 5 times.  The oracle
    reproduces counts, uncompressed total, and the order-canonical
    names fingerprint from the same arithmetic; csize_total stays a
    function output but OUT of the oracled projection (deflate output
    is zlib-version-specific — not engine-portable)."""
    import io
    import zipfile

    import pandas as pd

    from ..functions.zipfmt import zip_container_stats

    def pack(batches):
        for pdf in batches:
            def zf(doc_id: int) -> bytes:
                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w") as z:
                    for i in range(1 + doc_id % 4):
                        data = (f"doc{doc_id}-{i}," * (1 + (doc_id + i) % 5)
                                ).encode()
                        method = (zipfile.ZIP_DEFLATED if i % 2 == 0
                                  else zipfile.ZIP_STORED)
                        z.writestr(zipfile.ZipInfo(f"f{i}.txt"), data,
                                   method)
                return buf.getvalue()

            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "content": pdf["doc_id"].map(zf),
            })

    media = _docs(spark, sf_dir).select("doc_id").mapInPandas(
        pack, "doc_id long, content binary")
    return zip_container_stats(media).select(
        "doc_id", "n_entries", "n_stored", "n_deflate", "usize_total",
        "names_md5")


def _zip_stats_sql() -> str:
    return r"""
WITH e AS (
  SELECT doc_id, i,
         length('doc' || CAST(doc_id AS VARCHAR) || '-' ||
                CAST(i AS VARCHAR) || ',') * (1 + (doc_id + i) % 5)
           AS usz
  FROM documents,
       LATERAL (SELECT unnest(generate_series(0, doc_id % 4)) AS i) t
)
SELECT doc_id,
       CAST(1 + doc_id % 4 AS INTEGER) AS n_entries,
       CAST((1 + doc_id % 4) // 2 AS INTEGER) AS n_stored,
       CAST((2 + doc_id % 4) // 2 AS INTEGER) AS n_deflate,
       CAST(sum(usz) AS BIGINT) AS usize_total,
       md5(string_agg(
             CAST(length('f' || CAST(i AS VARCHAR) || '.txt') AS VARCHAR)
             || ':' || 'f' || CAST(i AS VARCHAR) || '.txt', '|'
             ORDER BY i)) AS names_md5
FROM e GROUP BY doc_id
"""


def _warc_parse_sql() -> str:
    from ..functions.html import WARC_CLEN_RE, WARC_TYPE_RE, WARC_URI_RE

    crlf = "chr(13) || chr(10)"
    return ("""
WITH """ + _synth_page_cte() + f""",
wsrc AS (
  SELECT doc_id,
         'WARC/1.0' || {crlf} || 'WARC-Type: response' || {crlf} ||
         'WARC-Target-URI: https://site-' ||
         CAST(doc_id % 17 AS VARCHAR) || '.example.com/page/' ||
         CAST(doc_id AS VARCHAR) || {crlf} ||
         'Content-Length: ' || CAST(length(html) AS VARCHAR) ||
         {crlf} || {crlf} || html ||
         'WARC/1.0' || {crlf} || 'WARC-Type: metadata' || {crlf} ||
         'Content-Length: ' ||
         CAST(length('fetchTimeMs: ' || CAST(doc_id AS VARCHAR))
              AS VARCHAR) ||
         {crlf} || {crlf} || 'fetchTimeMs: ' || CAST(doc_id AS VARCHAR)
           AS warc
  FROM page
),
r AS (
  SELECT doc_id,
         unnest(string_split(warc, 'WARC/1.0' || {crlf})) AS rec,
         generate_subscripts(string_split(warc, 'WARC/1.0' || {crlf}), 1)
           AS i
  FROM wsrc
),
p AS (
  SELECT doc_id, CAST(i - 2 AS BIGINT) AS rec_idx, rec,
         strpos(rec, {crlf} || {crlf}) AS dv,
         regexp_extract(rec, '{WARC_TYPE_RE}', 1) AS warc_type,
         regexp_extract(rec, '{WARC_URI_RE}', 1) AS target_uri,
         regexp_extract(rec, '{WARC_CLEN_RE}', 1) AS cl
  FROM r WHERE length(rec) > 0
),
q AS (
  SELECT doc_id, rec_idx, warc_type, target_uri,
         COALESCE(CAST(NULLIF(cl, '') AS BIGINT), -1) AS content_length,
         CASE WHEN dv > 0 THEN substr(rec, dv + 4) ELSE '' END AS payload
  FROM p
)
SELECT doc_id, rec_idx, warc_type, target_uri, content_length,
       CASE WHEN length(payload) = content_length THEN 1 ELSE 0 END
         AS payload_ok,
       md5(payload) AS payload_md5
FROM q
""")


def _q_c4_sentence_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sentence cleanup (Raffel et al. 2020): sentences under 3
    words dropped, docs with under 3 surviving sentences or a blocklist
    fragment dropped whole.  Zero-shuffle per-row expressions
    (functions/quality.py) over the deterministically sentencified
    corpus (see _SENT_RE — the raw corpus has no sentence boundaries, so
    short docs now genuinely fail the 3-sentence floor while median docs
    pass)."""
    from ..functions.quality import c4_sentence_filter

    docs = _docs(spark, sf_dir).select(
        "doc_id", _sentencified().alias("text"))
    return c4_sentence_filter(docs)


_C4_FILTER_SQL = r"""
WITH nrm AS (
  SELECT doc_id,
         lower(regexp_replace(trim(""" + _SENT_SQL.format(c="text") + r"""),
                              '\s+', ' ', 'g')) AS t
  FROM documents
),
m AS (
  SELECT doc_id, t,
         list_filter(string_split_regex(t, '\. '),
                     x -> length(x) > 0) AS ne
  FROM nrm
),
k AS (
  SELECT doc_id, t, ne,
         list_filter(ne, x -> len(string_split(x, ' ')) >= 3) AS kept,
         (NOT (contains(t, 'lorem ipsum') OR contains(t, '{'))) AS clean
  FROM m
)
SELECT doc_id,
       CAST(len(ne) AS BIGINT) AS n_sentences,
       CAST(len(kept) AS BIGINT) AS n_kept,
       CASE WHEN clean AND len(kept) >= 3 THEN 1 ELSE 0 END AS doc_kept,
       CASE WHEN clean AND len(kept) >= 3
            THEN array_to_string(kept, '. ') ELSE '' END AS clean_text
FROM k
"""


def _q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021 A1.1) with every
    ratio threshold decided in integers (functions/quality.py)."""
    from ..functions.quality import gopher_quality

    return gopher_quality(_docs(spark, sf_dir))


def _q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency scoring (functions/quality.py:bigram_lm_score)
    self-trained on the corpus — every probability is integer-scaled
    with floor division, so the CCNet-style quality signal hash-matches
    its DuckDB twin exactly (real perplexity takes logs — float,
    engine-divergent; the scaled linear-space mean ranks identically
    for filtering)."""
    from ..functions.quality import bigram_lm_score

    return bigram_lm_score(_docs(spark, sf_dir))


def _bigram_lm_ctes() -> str:
    """bg/c2t/c1t/vt/sc/lmagg CTE chain (expects the ``w`` words CTE
    above it) — ONE rendering of the integer bigram-LM algebra, shared
    by the bigram_lm_score and ccnet_buckets oracles so the smoothing
    formula can never silently diverge between rows."""
    from ..functions.quality import LM_SCALE

    return rf"""bg AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM w, LATERAL (SELECT unnest(generate_series(1,
                     greatest(len(ws) - 1, 0))) AS i) t
  WHERE length(ws[i]) > 0 AND length(ws[i + 1]) > 0
),
c2t AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
        FROM bg GROUP BY 1, 2),
c1t AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2t GROUP BY 1),
vt AS (SELECT CAST(count(*) AS BIGINT) AS v FROM
       (SELECT DISTINCT w1 AS t FROM c2t
        UNION SELECT DISTINCT w2 FROM c2t)),
sc AS (
  SELECT bg.doc_id,
         ((COALESCE(c2t.c2, 0) + 1) * {LM_SCALE})
           // (COALESCE(c1t.c1, 0) + vt.v) AS p
  FROM bg
  LEFT JOIN c2t ON c2t.w1 = bg.w1 AND c2t.w2 = bg.w2
  LEFT JOIN c1t ON c1t.w1 = bg.w1
  CROSS JOIN vt
),
lmagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                 CAST(sum(p) // count(*) AS BIGINT) AS lm_score
          FROM sc GROUP BY 1)"""


def _bigram_lm_sql() -> str:
    return rf"""
WITH {_WORDS_CTE},
{_bigram_lm_ctes()}
SELECT d.doc_id,
       CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(lm_score, 0) AS BIGINT) AS lm_score
FROM documents d LEFT JOIN lmagg USING (doc_id)
"""


def _q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language head/middle/tail fluency bucketing
    (functions/quality.py:ccnet_buckets): language-ID + integer
    bigram-LM score + scale-safe ranged per-language quantile rank.
    The oracle runs the per-language window form the ranged algebra is
    provably identical to, over the SAME lang-fold and LM renderings
    the language_id and bigram_lm_score oracles use."""
    from ..functions.quality import ccnet_buckets

    return ccnet_buckets(_docs(spark, sf_dir))


def _ccnet_buckets_sql() -> str:
    return rf"""
WITH {_WORDS_CTE},
{_lang_pred_ctes()},
{_bigram_lm_ctes()},
j AS (
  SELECT l.doc_id, l.lang_pred AS lang,
         CAST(COALESCE(a.lm_score, 0) AS BIGINT) AS lm_score
  FROM langp l LEFT JOIN lmagg a USING (doc_id)
),
r AS (
  SELECT doc_id, lang, lm_score,
         row_number() OVER (PARTITION BY lang
                            ORDER BY lm_score DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM j
)
SELECT doc_id, lang, lm_score,
       CAST(((rn - 1) * 3) // n AS INTEGER) AS bucket_idx,
       CASE ((rn - 1) * 3) // n WHEN 0 THEN 'head'
            WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
FROM r
"""


def _doc_domain_links(docs: DataFrame) -> DataFrame:
    """Per-DOC synthetic outlink (doc_id, src, dst): docs map onto 17
    domains (the cap_per_domain convention) and each doc contributes one
    edge to a deterministic neighbor, giving every domain up to 5
    distinct out-edges.  Kept per-doc (pre-aggregation) so page-level
    gates — robots nofollow — can drop a DOC's contribution before the
    domain-level weight rollup."""
    return docs.select(
        "doc_id",
        (F.col("doc_id") % 17).alias("src"),
        ((F.col("doc_id") % 17 + 1
          + F.expr("doc_id div 17") % 5) % 17).alias("dst"))


def _domain_edges(links: DataFrame) -> DataFrame:
    """Domain-level weighted edge rollup of :func:`_doc_domain_links`."""
    return (links.groupBy("src", "dst")
            .agg(F.count(F.lit(1)).cast("long").alias("weight")))


def _q_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank over the synthesized domain link graph
    (operators/graph.py): every doc contributes one weighted edge
    (:func:`_doc_domain_links`).  Three unrolled iterations; every
    arithmetic step is integer division, so the DuckDB oracle (same
    unroll as CTEs) hash-matches bit for bit — the reason this iterative
    algorithm is oracle-expressible at all."""
    from ..operators.graph import pagerank

    edges = _domain_edges(_doc_domain_links(_docs(spark, sf_dir)))
    return pagerank(edges, iterations=3)


def _q_compliant_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robots->links->rank composition a REAL crawl runs (the
    promise in robots_flags' docstring, now exercised end to end): drop
    every outlink whose SOURCE page is ``nofollow`` (meta robots, both
    attribute orders, X-Robots-Tag header lines, ``none``) BEFORE the
    domain-level weight rollup, then rank what remains.  Edge weights —
    and therefore every rank — shift wherever a nofollow page used to
    contribute, so the oracle hash-checks the composition, not just the
    stages.  Zero extra shuffle vs domain_pagerank: the robots gate is a
    zero-shuffle regexp stage and the drop is a doc_id-keyed semi-join
    that folds into the rollup's exchange."""
    from ..functions.quality import robots_flags
    from ..operators.graph import pagerank

    docs = _docs(spark, sf_dir)
    follow_ok = (robots_flags(_synth_robots_pages(docs),
                              headers_col="headers")
                 .where(F.col("nofollow") == 0).select("doc_id"))
    links = _doc_domain_links(docs).join(follow_ok, "doc_id", "left_semi")
    return pagerank(_domain_edges(links), iterations=3)


def _pagerank_tail_sql(dangling: bool = False) -> str:
    """nodes/outw/r0 + the 3-iteration unroll + final select — shared by
    every PageRank oracle; expects a preceding ``ed(src, dst, weight)``
    CTE.  ``dangling=True`` mirrors the operator's
    ``redistribute_dangling``: per iteration a one-row sum of the
    out-edge-less nodes' rank, shared ``dm // n`` inside the damping
    term."""
    from ..operators.graph import DAMP_DEN, DAMP_NUM, SCALE

    tele = f"(({DAMP_DEN - DAMP_NUM} * {SCALE}) // {DAMP_DEN}) // n"
    iters = []
    for k in (1, 2, 3):
        dcte = (f"""d{k} AS (
  SELECT COALESCE(sum(rank), 0) AS dm FROM r{k - 1}
  WHERE node NOT IN (SELECT DISTINCT src FROM ed)
),
""" if dangling else "")
        in_term = ("COALESCE(c.in_sum, 0) + (dm // n)" if dangling
                   else "COALESCE(c.in_sum, 0)")
        djoin = f" CROSS JOIN d{k}" if dangling else ""
        iters.append(f"""{dcte}c{k} AS (
  SELECT e.dst AS node,
         sum((r.rank * e.weight) // o.w_out) AS in_sum
  FROM ed e JOIN outw o USING (src) JOIN r{k - 1} r ON r.node = e.src
  GROUP BY 1
),
r{k} AS (
  SELECT nodes.node,
         {tele} + ({DAMP_NUM} * ({in_term})) // {DAMP_DEN}
           AS rank
  FROM nodes CROSS JOIN nn{djoin}
  LEFT JOIN c{k} c ON c.node = nodes.node
)""")
    return f"""nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
nn AS (SELECT count(*) AS n FROM nodes),
outw AS (SELECT src, sum(weight) AS w_out FROM ed GROUP BY 1),
r0 AS (SELECT node, {SCALE} // n AS rank FROM nodes CROSS JOIN nn),
{",".join(iters)}
SELECT node, CAST(rank AS BIGINT) AS rank_scaled FROM r3
"""


def _domain_pagerank_sql() -> str:
    return f"""
WITH ed AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS weight
  FROM (SELECT doc_id % 17 AS src,
               (doc_id % 17 + 1 + (doc_id // 17) % 5) % 17 AS dst
        FROM documents)
  GROUP BY 1, 2
),
{_pagerank_tail_sql()}"""


def _q_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank WITH uniform dangling-mass redistribution
    (operators/graph.py:pagerank redistribute_dangling=True) over a
    graph that genuinely has dangling nodes: the domain-link synthesis
    with every src % 5 == 0 domain's out-edges dropped — those domains
    still RECEIVE links, so they hold rank that must be redistributed,
    not leaked.  Real web graphs carry dangling pages everywhere; this
    row proves the NetworkX-semantics variant integer-exactly."""
    from ..operators.graph import pagerank

    links = (_doc_domain_links(_docs(spark, sf_dir))
             .where(F.expr("src % 5 != 0")))
    return pagerank(_domain_edges(links), iterations=3,
                    redistribute_dangling=True)


def _pagerank_dangling_sql() -> str:
    return f"""
WITH ed AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS weight
  FROM (SELECT doc_id % 17 AS src,
               (doc_id % 17 + 1 + (doc_id // 17) % 5) % 17 AS dst
        FROM documents)
  WHERE src % 5 <> 0
  GROUP BY 1, 2
),
{_pagerank_tail_sql(dangling=True)}"""


def _q_salsa_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact SALSA hub/authority scores (operators/graph.py:
    salsa) over the same synthesized domain link graph the PageRank
    rows rank — the complementary signal (a seed-list page is a hub
    even with zero in-links).  Two unrolled iterations; normalization
    is built into the row/column-stochastic splits, so the DuckDB
    unroll below hash-matches bit for bit (the pagerank
    oracle-expressibility discipline applied to the HITS family)."""
    from ..operators.graph import salsa

    edges = _domain_edges(_doc_domain_links(_docs(spark, sf_dir)))
    return salsa(edges, iterations=2)


def _salsa_sql() -> str:
    from ..operators.graph import SCALE

    steps = []
    prev_h = "h0"
    for k in (1, 2):
        steps.append(f"""ar{k} AS (
  SELECT e.dst AS node, sum((h.hub * e.weight) // o.w_out) AS raw
  FROM ed e JOIN outw o USING (src) JOIN {prev_h} h ON h.node = e.src
  GROUP BY 1
),
a{k} AS (
  SELECT nodes.node, COALESCE(raw, 0) AS auth
  FROM nodes LEFT JOIN ar{k} USING (node)
),
hr{k} AS (
  SELECT e.src AS node, sum((a.auth * e.weight) // i.w_in) AS raw
  FROM ed e JOIN inw i USING (dst) JOIN a{k} a ON a.node = e.dst
  GROUP BY 1
),
h{k} AS (
  SELECT nodes.node, COALESCE(raw, 0) AS hub
  FROM nodes LEFT JOIN hr{k} USING (node)
)""")
        prev_h = f"h{k}"
    return f"""
WITH ed AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS weight
  FROM (SELECT doc_id % 17 AS src,
               (doc_id % 17 + 1 + (doc_id // 17) % 5) % 17 AS dst
        FROM documents)
  GROUP BY 1, 2
),
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
nn AS (SELECT count(*) AS n FROM nodes),
outw AS (SELECT src, sum(weight) AS w_out FROM ed GROUP BY 1),
inw AS (SELECT dst, sum(weight) AS w_in FROM ed GROUP BY 1),
h0 AS (SELECT node, {SCALE} // n AS hub FROM nodes CROSS JOIN nn),
{",".join(steps)}
SELECT h2.node, CAST(hub AS BIGINT) AS hub_scaled,
       CAST(auth AS BIGINT) AS auth_scaled
FROM h2 JOIN a2 USING (node)
"""


def _compliant_pagerank_sql() -> str:
    from ..functions.quality import _NOFOLLOW_TOK_RE

    return f"""
WITH {_robots_ctes()},
fol AS (
  SELECT doc_id FROM rdir
  WHERE NOT regexp_matches(directives, '{_NOFOLLOW_TOK_RE}')
),
ed AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS weight
  FROM (SELECT doc_id % 17 AS src,
               (doc_id % 17 + 1 + (doc_id // 17) % 5) % 17 AS dst
        FROM documents JOIN fol USING (doc_id))
  GROUP BY 1, 2
),
{_pagerank_tail_sql()}"""


def _synth_robots_pages(docs: DataFrame) -> DataFrame:
    """(doc_id, html, headers) with deterministic robots directives —
    shared by the robots_filter row and the crawl_admission capstone."""
    v = F.col("doc_id") % 7
    meta = (
        F.when(v == 0, F.lit('<meta name="robots" '
                             'content="noindex, follow">'))
        .when(v == 1, F.lit('<meta name="robots" '
                            'content="index, nofollow">'))
        .when(v == 2, F.lit('<meta content="none" name="robots">'))
        .when(v == 5, F.lit('<meta name="robots" '
                            'content="noindexing-is-not-noindex">'))
        .when(v == 6, F.lit('<meta name="robots" content="index, follow">'
                            '<meta name="robots" content="noindex">'))
        .otherwise(F.lit(""))
    )
    headers = (
        F.when(v == 3, F.lit("HTTP/1.1 200 OK\r\nContent-Type: "
                             "text/html\r\nX-Robots-Tag: noindex\r\n"))
        .when(v == 4, F.lit("HTTP/1.1 200 OK\r\nX-Robots-Tag: "
                            "unavailable_after: 2027-01-01\r\n"
                            "X-Robots-Tag: nofollow\r\n"))
        .otherwise(F.lit("HTTP/1.1 200 OK\r\n"))
    )
    return docs.select(
        "doc_id",
        F.concat(F.lit("<html><head>"), meta,
                 F.lit("</head><body><p>ok</p></body></html>"))
        .alias("html"),
        headers.alias("headers"),
    )


_ROBOTS_TXT_BODIES = [
    # v0: plain prefix rules with an allow carve-out
    "User-agent: *\nDisallow: /private/\nAllow: /private/open/\n",
    # v1: STACKED specific-agent group (ignored by the default gate —
    # neither token is '*') + wildcard and $-anchored rules
    "User-agent: googlebot\nUser-agent: bingbot\nDisallow: /\n\n"
    "User-agent: *\nDisallow: /tmp/*\nAllow: /tmp/keep$\n",
    # v2: block everything
    "User-agent: *\nDisallow: /\n",
    # v3: no robots.txt
    "",
    # v4: '*' STACKED under a named token (RFC: both share the rules);
    # empty Disallow imposes nothing; wildcard allow
    "User-agent: fetchbot\nUser-agent: *\nDisallow:\nAllow: /index*\n",
]

_ROBOTS_TXT_PATHS = ["/private/a", "/private/open/b", "/tmp/keep",
                     "/tmp/junk1", "/index.html", "/private"]


def _robots_group_ctes(ua: str | None = None) -> str:
    """``segx``/``segp``/``segr``/``chosen``/``merged`` CTE block
    mirroring functions/robots.py:_group_rule_text — expects a
    ``bod(dom, body)`` CTE above it; yields ``merged(dom, seg)``.
    Stacked User-agent lines share the first FOLLOWING rule-bearing
    segment (rpos); a named crawler's groups override ``*``."""
    tok = "lower(regexp_extract(seg, '^[ \\t]*([^ \\t\\r\\n#]*)', 1))"
    named = ""
    chosen = """chosen AS (
  SELECT DISTINCT dom, rpos FROM segr
  WHERE tok = '*' AND rpos IS NOT NULL
)"""
    if ua is not None:
        named = f"""namedp AS (
  SELECT DISTINCT dom, rpos FROM segr
  WHERE tok = '{ua.lower()}' AND rpos IS NOT NULL
),
-- token-keyed (not rule-position-keyed): a matching group with ZERO
-- rules still overrides '*' (RFC 9309 §2.2.1)
named_keys AS (
  SELECT DISTINCT dom FROM segr WHERE tok = '{ua.lower()}'
),
starp AS (
  SELECT DISTINCT dom, rpos FROM segr
  WHERE tok = '*' AND rpos IS NOT NULL
),"""
        chosen = """chosen AS (
  SELECT dom, rpos FROM namedp
  UNION ALL
  SELECT dom, rpos FROM starp
  WHERE dom NOT IN (SELECT dom FROM named_keys)
)"""
    return f"""segx AS (
  SELECT dom, generate_subscripts(sl, 1) - 1 AS pos, unnest(sl) AS seg
  FROM (SELECT dom,
               string_split_regex(body, '(?i)user-agent[ \\t]*:') AS sl
        FROM bod)
),
segp AS (
  SELECT dom, pos, seg, {tok} AS tok,
         regexp_matches(seg,
           '(?im)^[ \\t]*(allow|disallow|crawl-delay)[ \\t]*:')
           AS has_rules
  FROM segx WHERE pos > 0
),
segr AS (
  SELECT dom, pos, seg, tok,
         min(CASE WHEN has_rules THEN pos END)
           OVER (PARTITION BY dom ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS rpos
  FROM segp
),
{named}
{chosen},
merged AS (
  SELECT s.dom, string_agg(s.seg, chr(10) ORDER BY s.pos) AS seg
  FROM segr s JOIN chosen c ON s.dom = c.dom AND s.pos = c.rpos
  GROUP BY s.dom
)"""


def _q_robots_txt_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt FILE compliance (functions/robots.py): 17 synthesized
    domains carry five robots.txt shapes (prefix rules, an ignored
    specific-agent group, ``*`` wildcards, a ``$`` anchor, block-all,
    missing file, empty Disallow) and every doc's URL walks six path
    shapes through the longest-match / allow-wins-ties gate.  The
    oracle runs the identical split/extract/LIKE arithmetic, so group
    selection, pattern translation, and precedence are parity-checked
    end to end."""
    from ..functions.robots import robots_allowed, robots_rules

    docs = _docs(spark, sf_dir)
    dom = F.col("doc_id") % 17
    robots = (docs.select(dom.alias("domain")).distinct()
              .select("domain",
                      F.element_at(
                          F.array(*[F.lit(b) for b in _ROBOTS_TXT_BODIES]),
                          (F.col("domain") % 5 + 1).cast("int"))
                      .alias("robots_txt")))
    path = F.element_at(F.array(*[F.lit(p) for p in _ROBOTS_TXT_PATHS]),
                        (F.col("doc_id") % 6 + 1).cast("int"))
    urls = docs.select(
        "doc_id", dom.alias("domain"),
        F.concat(F.lit("https://site-"), dom.cast("string"),
                 F.lit(".example.com"), path).alias("url"))
    return robots_allowed(urls, robots_rules(robots))


def _robots_txt_gate_sql() -> str:
    bodies = " ".join(
        f"WHEN {i} THEN '{b}'".replace("\n", "' || chr(10) || '")
        for i, b in enumerate(_ROBOTS_TXT_BODIES))
    paths = " ".join(f"WHEN {i} THEN '{p}'"
                     for i, p in enumerate(_ROBOTS_TXT_PATHS))
    return f"""
WITH doms AS (SELECT DISTINCT doc_id % 17 AS dom FROM documents),
bod AS (
  SELECT dom, CASE dom % 5 {bodies} END AS body FROM doms
),
{_robots_group_ctes()},
rawr AS (
  SELECT dom, unnest(regexp_extract_all(
           seg,
           '(?im)^[ \\t]*(allow|disallow)[ \\t]*:[ \\t]*([^#\\r\\n]*)',
           0)) AS m
  FROM merged
),
rul AS (
  SELECT dom,
         CASE WHEN lower(regexp_extract(m, '(?i)(allow|disallow)', 1))
              = 'allow' THEN 1 ELSE 0 END AS is_allow,
         trim(regexp_extract(m, ':(.*)$', 1)) AS path
  FROM rawr
  WHERE trim(regexp_extract(m, ':(.*)$', 1)) <> ''
),
pats AS (
  SELECT dom, is_allow, CAST(length(path) AS INTEGER) AS rule_len,
         CASE WHEN right(wild, 1) = '$'
              THEN substring(wild, 1, length(wild) - 1)
              ELSE wild || '%' END AS pat
  FROM (SELECT dom, is_allow, path,
               replace(replace(replace(replace(path,
                 '!', '!!'), '%', '!%'), '_', '!_'), '*', '%') AS wild
        FROM rul)
),
u AS (
  SELECT doc_id, doc_id % 17 AS dom,
         regexp_extract(
           'https://site-' || CAST(doc_id % 17 AS VARCHAR) ||
           '.example.com' || CASE doc_id % 6 {paths} END,
           '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS p0
  FROM documents
),
up AS (SELECT doc_id, dom,
              CASE WHEN p0 = '' THEN '/' ELSE p0 END AS p FROM u),
agg AS (
  SELECT up.doc_id,
         max(CASE WHEN r.pat IS NOT NULL
                   AND up.p LIKE r.pat ESCAPE '!'
                  THEN r.rule_len * 2 + r.is_allow END) AS pk
  FROM up LEFT JOIN pats r USING (dom)
  GROUP BY 1
)
SELECT doc_id,
       CASE WHEN pk IS NULL OR pk % 2 = 1 THEN 1 ELSE 0 END AS allowed,
       CAST(COALESCE(pk // 2, 0) AS INTEGER) AS match_len
FROM agg
"""


def _q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots/noindex compliance gate (functions/quality.py:
    robots_flags): synthesized pages carry meta robots tags in both
    attribute orders plus an X-Robots-Tag response-header block —
    noindex, nofollow, none, an unrelated directive, and clean pages.
    Zero-shuffle regexp codegen; the oracle runs the identical patterns,
    so token-wise directive matching is parity-checked end to end."""
    from ..functions.quality import robots_flags

    pages = _synth_robots_pages(_docs(spark, sf_dir))
    return robots_flags(pages, headers_col="headers")


def _robots_ctes() -> str:
    """``v``/``pages``/``rdir`` CTE block (robots synthesis + extracted
    directive string) — shared by the robots_filter oracle and the
    crawl_admission capstone oracle."""
    from ..functions.quality import (META_ROBOTS_RE, META_ROBOTS_REV_RE,
                                     X_ROBOTS_RE)

    return f"""v AS (
  SELECT doc_id, CAST(doc_id % 7 AS INTEGER) AS vv FROM documents
),
pages AS (
  SELECT doc_id,
         '<html><head>' ||
         CASE vv
           WHEN 0 THEN '<meta name="robots" content="noindex, follow">'
           WHEN 1 THEN '<meta name="robots" content="index, nofollow">'
           WHEN 2 THEN '<meta content="none" name="robots">'
           WHEN 5 THEN
             '<meta name="robots" content="noindexing-is-not-noindex">'
           WHEN 6 THEN
             '<meta name="robots" content="index, follow">' ||
             '<meta name="robots" content="noindex">'
           ELSE '' END ||
         '</head><body><p>ok</p></body></html>' AS html,
         CASE vv
           WHEN 3 THEN 'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
                       'Content-Type: text/html' || chr(13) || chr(10) ||
                       'X-Robots-Tag: noindex' || chr(13) || chr(10)
           WHEN 4 THEN 'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
                       'X-Robots-Tag: unavailable_after: 2027-01-01' ||
                       chr(13) || chr(10) ||
                       'X-Robots-Tag: nofollow' || chr(13) || chr(10)
           ELSE 'HTTP/1.1 200 OK' || chr(13) || chr(10) END AS headers
  FROM v
),
rdir AS (
  -- COALESCE: DuckDB's array_to_string([]) is NULL where Spark's
  -- array_join([]) is '' — empty match lists must not null the row
  SELECT doc_id,
         coalesce(array_to_string(
           regexp_extract_all(html, '{META_ROBOTS_RE}', 1), ','), '')
         || ',' ||
         coalesce(array_to_string(
           regexp_extract_all(html, '{META_ROBOTS_REV_RE}', 1), ','), '')
         || ',' ||
         coalesce(array_to_string(
           regexp_extract_all(headers, '{X_ROBOTS_RE}', 1), ','), '')
         AS directives
  FROM pages
)"""


def _robots_filter_sql() -> str:
    from ..functions.quality import _NOFOLLOW_TOK_RE, _NOINDEX_TOK_RE

    return f"""
WITH {_robots_ctes()}
SELECT doc_id,
       CAST(regexp_matches(directives, '{_NOINDEX_TOK_RE}') AS INTEGER)
         AS noindex,
       CAST(regexp_matches(directives, '{_NOFOLLOW_TOK_RE}') AS INTEGER)
         AS nofollow,
       CAST(NOT regexp_matches(directives, '{_NOINDEX_TOK_RE}')
            AS INTEGER) AS indexable
FROM rdir
"""


def _gopher_sql() -> str:
    from ..functions.quality import GOPHER_STOPS

    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPS)
    return (r"""
WITH """ + _WORDS_CTE + r""",
m AS (
  SELECT doc_id,
         lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(COALESCE(list_sum(list_transform(ws, x -> length(x))), 0)
              AS BIGINT) AS total_word_chars,
         CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
              AS BIGINT) AS n_alpha_words,
         CAST(len(list_filter(ws, x -> list_contains([""" + stops + r"""],
              x))) AS BIGINT) AS n_stop_hits
  FROM w
),
s AS (
  SELECT *,
         CAST((length(t) - length(replace(t, '#', ''))) / 1
              + (length(t) - length(replace(t, '...', ''))) / 3
              AS BIGINT) AS n_symbols
  FROM m
)
SELECT doc_id, n_words, total_word_chars, n_symbols, n_alpha_words,
       n_stop_hits,
       CASE WHEN n_words >= 50 AND n_words <= 100000
             AND total_word_chars >= 3 * n_words
             AND total_word_chars <= 10 * n_words
             AND 10 * n_symbols <= n_words
             AND 5 * n_alpha_words >= 4 * n_words
             AND n_stop_hits >= 2
            THEN 1 ELSE 0 END AS passes
FROM s
""")


def _q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text aggregation (functions/quality.py:
    anchor_texts) over the synthesized pages of extract_links PLUS a
    mixed-quote tail — one single-quoted and one unquoted-href anchor
    per page (both quote styles are common in real HTML and were
    silently dropped before round 10), so the gate hash covers all
    three attribute forms and the quote-strip."""
    from ..functions.html import synthesize_page
    from ..functions.quality import anchor_texts

    docs = _docs(spark, sf_dir)
    html = F.concat(
        synthesize_page(),
        F.lit("<div><a href='/s/"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("' rel='nofollow'>beta <b>link</b></a> "
              "<a class=plain href=/u/"),
        (F.col("doc_id") % 4).cast("string"),
        F.lit(">gamma unquoted</a></div>"),
    )
    return anchor_texts(docs.select("doc_id", html.alias("html")))


def _anchor_texts_sql() -> str:
    from ..functions.quality import ANCHOR_RE

    pat = ANCHOR_RE.replace("'", "''")
    return f"""
WITH {_synth_page_cte()},
mixed AS (
  SELECT doc_id,
         html || '<div><a href=''/s/' || CAST(doc_id % 3 AS VARCHAR) ||
         ''' rel=''nofollow''>beta <b>link</b></a> ' ||
         '<a class=plain href=/u/' || CAST(doc_id % 4 AS VARCHAR) ||
         '>gamma unquoted</a></div>' AS html
  FROM page
),
m AS (
  SELECT doc_id, unnest(regexp_extract_all(html, '{pat}', 0)) AS a
  FROM mixed
),
p AS (
  -- ONE alternation pass (a second sequential strip would peel inner
  -- quotes too); a non-participating group's backref is empty on RE2
  SELECT doc_id,
         regexp_replace(
           regexp_extract(a, '{pat}', 1),
           '(?s)^"(.*)"$|^''(.*)''$', '\\1\\2') AS target,
         trim(regexp_replace(regexp_extract(a, '{pat}', 2),
                             '<[^>]*>', '', 'g')) AS anchor
  FROM m
),
e AS (
  SELECT target, anchor,
         lpad(CAST(doc_id AS VARCHAR), 12, '0') || ':' || anchor AS entry
  FROM p
)
SELECT target,
       CAST(count(*) AS BIGINT) AS n_anchors,
       CAST(count(DISTINCT anchor) AS BIGINT) AS n_unique_texts,
       md5(string_agg(entry, '|' ORDER BY entry)) AS anchors_hash
FROM e GROUP BY target
"""


_BM25_TERMS = ("spark", "join", "window", "stream")


def _q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (functions/text.py:bm25_scores) of every
    document against a fixed 4-term query — the ranking consumer of the
    inverted-index family.  Per-(doc, term) postings filter BEFORE the
    first exchange; df/avgdl sides broadcast.  Float ln/division
    rounded to 6 (the latency_percentiles posture)."""
    from ..functions.text import bm25_scores

    return bm25_scores(_docs(spark, sf_dir), list(_BM25_TERMS))


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return rf"""
WITH w AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                      ' ') AS ws
  FROM documents
),
tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
tok2 AS (SELECT * FROM tok WHERE length(term) > 0),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
       FROM tok2 GROUP BY 1),
corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM tok2 WHERE term IN ({terms}) GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS dft
          FROM tf GROUP BY 1),
s AS (
  SELECT tf.doc_id,
         ln(1.0 + ((CAST(n_docs AS DOUBLE) - dft) + 0.5)
                  / (CAST(dft AS DOUBLE) + 0.5))
         * (tf * 2.2)
         / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(dl AS DOUBLE)
              / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))
           AS s
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN corpus
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       round(sum(s), 6) AS score
FROM s GROUP BY doc_id
"""


_PHRASE = ("batch", "batch", "stream")


def _q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase positional query (functions/text.py:phrase_search)
    for "batch batch stream" — the repeated leading term exercises the
    multi-offset vote path (one token votes for both 'batch' slots) and
    overlapping-occurrence counting.  The DuckDB oracle zips
    unnest + generate_subscripts for positions and replays the same
    anchor algebra (count(DISTINCT off) = phrase length)."""
    from ..functions.text import phrase_search

    return phrase_search(_docs(spark, sf_dir), list(_PHRASE))


def _phrase_search_sql() -> str:
    vals = ", ".join(f"({i}, '{t}')" for i, t in enumerate(_PHRASE))
    return rf"""
WITH w AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                      ' ') AS ws
  FROM documents
),
tok AS (SELECT doc_id, unnest(ws) AS term,
               generate_subscripts(ws, 1) - 1 AS pos
        FROM w),
p(off, pterm) AS (VALUES {vals}),
votes AS (
  SELECT doc_id, pos - off AS anchor, off
  FROM tok JOIN p ON term = pterm AND length(term) > 0
  WHERE pos - off >= 0
),
occ AS (
  SELECT doc_id, anchor FROM votes
  GROUP BY 1, 2 HAVING count(DISTINCT off) = {len(_PHRASE)}
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(min(anchor) AS BIGINT) AS first_pos
FROM occ GROUP BY doc_id
"""


def _q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-discounted sampling weights (functions/dedup.py:
    soft_dedup_weights) — SoftDeDup posture: weight_ppm = 1e6 div
    max(exact copies, verified near-dup cluster size).  Pair input is
    the same verified LSH pair set as the checked near_dup_clusters
    row; the oracle composes that row's unrolled min-label CTE with a
    fingerprint window and integer floor division."""
    from ..functions.text import shingles

    docs = _docs(spark, sf_dir)
    sh = pin(shingles(docs))
    # pinned: the pair set feeds the cluster propagation rounds AND the
    # per-doc weight join (see _q_near_dup_clusters); the LSH candidate
    # frame is pinned too (round-15: verify_jaccard references it twice,
    # so the unpinned form executed the signature subtree twice —
    # measured 6.0 -> 4.1 s for the pair chain at sf0.1)
    cand = pin(dedup.minhash_lsh_pairs(docs, shingle_df=sh))
    pairs = pin(dedup.verify_jaccard(
        docs, cand, threshold=0.5, shingle_df=sh,
    ).select("doc_a", "doc_b"))
    return dedup.soft_dedup_weights(docs, pairs)


def _soft_dedup_weights_sql() -> str:
    return f"""
WITH clusters AS ({_near_dup_clusters_sql()}),
cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS csize
       FROM clusters GROUP BY 1),
per_doc AS (SELECT c.doc_id, cs.csize
            FROM clusters c JOIN cs USING (cluster_id)),
ex AS (
  SELECT doc_id,
         CAST(count(*) OVER (
           PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ',
                                                 'g')))) AS BIGINT)
           AS n_exact
  FROM documents
),
j AS (
  SELECT ex.doc_id, ex.n_exact,
         greatest(ex.n_exact, COALESCE(p.csize, 1)) AS n_eff
  FROM ex LEFT JOIN per_doc p USING (doc_id)
)
SELECT doc_id, n_exact, CAST(n_eff AS BIGINT) AS n_eff,
       CAST(1000000 // n_eff AS BIGINT) AS weight_ppm
FROM j
"""


_MIX_BUDGET = 2_000_000


def _q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source training-mix plan (functions/sampling.py:
    mixture_plan): temperature-rebalanced target shares and the
    sampling rate / epoch count that realize them inside a fixed token
    budget.  One corpus aggregation; float pow/div rounded to 6 (the
    temperature_sample posture)."""
    from ..functions.sampling import mixture_plan

    return mixture_plan(_docs(spark, sf_dir), budget_tokens=_MIX_BUDGET)


def _mixture_plan_sql() -> str:
    return rf"""
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+'))
                  END) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(n_tokens) AS _tot, sum(pow(n_tokens, 0.5)) AS _z
        FROM per)
-- the n_tokens = 0 CASE mirrors the Spark guard: an all-empty source
-- must yield 0.0 shares/rate on both engines, never NULL/NaN from 0/0
SELECT source, n_docs, n_tokens,
       round(CASE WHEN n_tokens > 0
                  THEN CAST(n_tokens AS DOUBLE) / _tot
                  ELSE 0.0 END, 6) AS natural_share,
       round(CASE WHEN n_tokens > 0 THEN pow(n_tokens, 0.5) / _z
                  ELSE 0.0 END, 6) AS target_share,
       round(CASE WHEN n_tokens > 0
                  THEN {float(_MIX_BUDGET)} * pow(n_tokens, 0.5) / _z
                       / n_tokens
                  ELSE 0.0 END, 6) AS sample_rate,
       CAST(ceil(round(CASE WHEN n_tokens > 0
                            THEN {float(_MIX_BUDGET)} * pow(n_tokens, 0.5)
                                 / _z / n_tokens
                            ELSE 0.0 END, 6)) AS BIGINT) AS epochs
FROM per CROSS JOIN tot
"""


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot URL-keyed diff (functions/crawl.py:snapshot_diff):
    the corpus split into two deterministic snapshots — doc_id % 4
    picks the fate: 0 added (new only), 1 removed (old only), 2 changed
    (text edited in the new crawl), 3 unchanged — so every class is
    populated and the full-outer fingerprint join is parity-checked."""
    from ..functions.crawl import snapshot_diff

    docs = _docs(spark, sf_dir)
    url = F.concat(F.lit("https://site-"),
                   (F.col("doc_id") % 17).cast("string"),
                   F.lit(".example.com/page/"),
                   F.col("doc_id").cast("string"))
    v = F.col("doc_id") % 4
    old = (docs.where(v != 0)
           .select(url.alias("url"), "text"))
    new = (docs.where(v != 1)
           .select(url.alias("url"),
                   F.when(v == 2, F.concat("text", F.lit(" [edited]")))
                   .otherwise(F.col("text")).alias("text")))
    return snapshot_diff(old, new)


def _snapshot_diff_sql() -> str:
    norm = ("md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))")
    normed = ("md5(lower(regexp_replace(trim(text || ' [edited]'), "
              "'\\s+', ' ', 'g')))")
    return f"""
WITH u AS (
  SELECT doc_id,
         'https://site-' || CAST(doc_id % 17 AS VARCHAR) ||
         '.example.com/page/' || CAST(doc_id AS VARCHAR) AS url,
         text, CAST(doc_id % 4 AS INTEGER) AS v
  FROM documents
),
-- min() per key mirrors the Spark-side keep-min duplicate-key collapse
o AS (SELECT url AS k, min({norm}) AS ofp FROM u WHERE v <> 0 GROUP BY 1),
n AS (SELECT url AS k,
             min(CASE WHEN v = 2 THEN {normed} ELSE {norm} END) AS nfp
      FROM u WHERE v <> 1 GROUP BY 1)
SELECT COALESCE(o.k, n.k) AS url,
       CASE WHEN o.k IS NULL THEN 'added'
            WHEN n.k IS NULL THEN 'removed'
            WHEN ofp <> nfp THEN 'changed'
            ELSE 'unchanged' END AS change
FROM o FULL OUTER JOIN n ON o.k = n.k
"""


def _q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 effective-dated history (functions/crawl.py:scd2_history)
    over FOUR deterministic snapshots of the corpus: doc_id %% 5 picks
    the snapshot where the page's content changes (0 = changed from the
    start -> one run; 4 = never changes within the window -> one run;
    1..3 -> two runs with a mid-window boundary), and doc_id %% 7 == 3
    pages are UNOBSERVED in snapshot 1 (a crawl gap — the run must span
    it with n_snaps = 3).  The DuckDB oracle replays the identical
    lag/run-sum/lead window algebra."""
    from ..functions.crawl import scd2_history

    docs = _docs(spark, sf_dir)
    url = F.concat(F.lit("https://site-"),
                   (F.col("doc_id") % 17).cast("string"),
                   F.lit(".example.com/page/"),
                   F.col("doc_id").cast("string"))
    snaps = (
        docs.select("doc_id", "text", url.alias("url"),
                    F.explode(F.sequence(F.lit(0), F.lit(3)))
                    .alias("snap_id"))
        .where(~((F.col("doc_id") % 7 == 3) & (F.col("snap_id") == 1)))
        .withColumn(
            "text",
            F.when(F.col("snap_id") >= F.col("doc_id") % 5,
                   F.concat("text", F.lit(" rev1")))
            .otherwise(F.col("text")))
    )
    return scd2_history(snaps)


_SCD2_HISTORY_SQL = r"""
WITH s AS (
  SELECT doc_id,
         'https://site-' || CAST(doc_id % 17 AS VARCHAR) ||
         '.example.com/page/' || CAST(doc_id AS VARCHAR) AS url,
         CAST(t.snap AS BIGINT) AS snap,
         CASE WHEN t.snap >= doc_id % 5 THEN text || ' rev1'
              ELSE text END AS text
  FROM documents, range(4) t(snap)
  WHERE NOT (doc_id % 7 = 3 AND t.snap = 1)
),
fp AS (
  SELECT url AS k, snap,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
  FROM s
),
c AS (
  SELECT k, snap, fp,
         CASE WHEN lag(fp) OVER w IS NULL OR lag(fp) OVER w <> fp
              THEN 1 ELSE 0 END AS chg
  FROM fp WINDOW w AS (PARTITION BY k ORDER BY snap)
),
v AS (
  SELECT *, sum(chg) OVER (PARTITION BY k ORDER BY snap) AS version
  FROM c
),
g AS (
  SELECT k, fp, CAST(version AS BIGINT) AS version,
         min(snap) AS valid_from, max(snap) AS last_seen,
         CAST(count(*) AS BIGINT) AS n_snaps
  FROM v GROUP BY 1, 2, 3
)
SELECT k AS url, fp AS fingerprint, version, valid_from,
       lead(valid_from) OVER w2 AS valid_to, last_seen, n_snaps,
       CAST(CASE WHEN lead(valid_from) OVER w2 IS NULL
                 THEN 1 ELSE 0 END AS INTEGER) AS is_current
FROM g WINDOW w2 AS (PARTITION BY k ORDER BY version)
"""


def _q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness scheduling (functions/crawl.py:crawl_schedule)
    composed after canonical-URL dedup: the KEEPER per canonical URL
    enters the per-host wave schedule (at most 4 fetches per host per
    wave, slot order deterministic by doc id)."""
    from ..functions.crawl import crawl_schedule
    from ..functions.urls import canonicalize_url

    docs = _docs(spark, sf_dir)
    canon = _synth_messy_urls(docs).select(
        "doc_id", canonicalize_url("url").alias("curl"))
    keeper = canon.groupBy("curl").agg(F.min("doc_id").alias("doc_id"))
    return crawl_schedule(
        keeper.select("doc_id", F.col("curl").alias("url")), per_wave=4)


def _crawl_schedule_sql() -> str:
    return f"""
WITH {_url_synth_canon_ctes()},
keeper AS (
  SELECT canonical_url AS curl, min(doc_id) AS doc_id
  FROM canon GROUP BY 1
),
h AS (
  SELECT doc_id,
         lower(regexp_extract(curl,
           '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS host
  FROM keeper
)
SELECT doc_id, host,
       CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id) - 1
            AS BIGINT) AS slot,
       CAST((row_number() OVER (PARTITION BY host ORDER BY doc_id) - 1)
            // 4 AS BIGINT) AS wave
FROM h
"""


# --- search_rank: the IR capstone (anchor_texts + BM25 + phrase) -------------
# The composition the three standalone IR rows imply: per-query top-k
# retrieval where the BM25 text score is boosted by what OTHER pages'
# anchors say (ln(1 + n_anchors) on a doc-addressed link layer) and by
# exact-phrase occurrences — mirroring how crawl_admission proved the
# crawl front door end to end.

_SEARCH_TOPK = 25


def _synth_doc_links(docs: DataFrame) -> DataFrame:
    """Doc-addressed link layer: every doc's page carries TWO anchors
    pointing at '/page/<k>' hub targets (k = doc_id % 97 and
    doc_id * 3 % 97), one single-quoted and one unquoted — the quote
    forms the round-10 ANCHOR_RE fix added, exercised INSIDE the
    capstone."""
    h = F.concat(
        F.lit("<p><a href='/page/"),
        (F.col("doc_id") % 97).cast("string"),
        F.lit("'>read about spark joins</a> and <a href=/page/"),
        (F.col("doc_id") * 3 % 97).cast("string"),
        F.lit(" rel=x>stream window notes</a></p>"),
    )
    return docs.select("doc_id", h.alias("html"))


def _q_search_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end retrieval ranking (the IR capstone): BM25 candidates
    for the fixed 4-term query (functions/text.py:bm25_scores), boosted
    by per-target anchor counts (functions/quality.py:anchor_texts over
    the doc-addressed link layer) and exact-phrase occurrences
    (functions/text.py:phrase_search), then deterministic top-25.

    Scale shape: the BM25 stages shuffle only query-term postings; the
    anchor layer folds to <= 97 hub rows (broadcast side of the boost
    join); the phrase side joins doc-keyed; the top-k is
    TakeOrderedAndProject (per-partition heads + driver merge — no
    global sort, no single-partition window over the corpus; the rank
    column is numbered on the already-limited 25 rows)."""
    from pyspark.sql import Window as W

    from ..functions.quality import anchor_texts
    from ..functions.text import (bm25_scores, phrase_search,
                                  positional_tokens)

    docs = _docs(spark, sf_dir)
    # ONE corpus tokenization shared by the BM25 and phrase stages (the
    # shingle_df sharing idiom): without it each operator re-scans and
    # re-explodes documents — 12 parquet scans at audit, 3 with the pin
    tok = pin(positional_tokens(docs))
    cand = bm25_scores(docs, list(_BM25_TERMS), tok_df=tok)
    anch = (
        anchor_texts(_synth_doc_links(docs))
        .select(
            F.regexp_extract("target", r"^/page/([0-9]+)$", 1)
            .cast("long").alias("doc_id"),
            F.col("n_anchors"))
    )
    ph = phrase_search(docs, list(_PHRASE), tok_df=tok).select(
        "doc_id", F.col("n_occurrences").alias("n_occ"))
    scored = (
        cand.join(F.broadcast(anch), "doc_id", "left")
        .join(ph, "doc_id", "left")
        .select(
            "doc_id", "n_hits",
            F.coalesce("n_anchors", F.lit(0)).cast("long")
            .alias("n_anchors"),
            F.coalesce("n_occ", F.lit(0)).cast("long")
            .alias("phrase_hits"),
            F.round(
                F.col("score")
                + 0.4 * F.log(F.lit(1.0)
                              + F.coalesce("n_anchors", F.lit(0)))
                + 0.25 * F.log(F.lit(1.0)
                               + F.coalesce("n_occ", F.lit(0))), 6)
            .alias("final_score"),
        )
    )
    top = (scored.orderBy(F.col("final_score").desc(), "doc_id")
           .limit(_SEARCH_TOPK))
    # rank over the already-limited 25 rows: bounded single partition
    wr = W.orderBy(F.col("final_score").desc(), "doc_id")
    return top.withColumn("rank", F.row_number().over(wr).cast("long"))


def _search_rank_sql() -> str:
    from ..functions.quality import ANCHOR_RE

    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    vals = ", ".join(f"({i}, '{t}')" for i, t in enumerate(_PHRASE))
    pat = ANCHOR_RE.replace("'", "''")
    return rf"""
WITH w AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                      ' ') AS ws
  FROM documents
),
tok AS (SELECT doc_id, unnest(ws) AS term,
               generate_subscripts(ws, 1) - 1 AS pos FROM w),
tok2 AS (SELECT * FROM tok WHERE length(term) > 0),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
       FROM tok2 GROUP BY 1),
corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM tok2 WHERE term IN ({terms}) GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS dft
          FROM tf GROUP BY 1),
s AS (
  SELECT tf.doc_id,
         ln(1.0 + ((CAST(n_docs AS DOUBLE) - dft) + 0.5)
                  / (CAST(dft AS DOUBLE) + 0.5))
         * (tf * 2.2)
         / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(dl AS DOUBLE)
              / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))
           AS s
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN corpus
),
bm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
              round(sum(s), 6) AS score
       FROM s GROUP BY doc_id),
links AS (
  SELECT doc_id,
         '<p><a href=''/page/' || CAST(doc_id % 97 AS VARCHAR) ||
         '''>read about spark joins</a> and <a href=/page/' ||
         CAST(doc_id * 3 % 97 AS VARCHAR) ||
         ' rel=x>stream window notes</a></p>' AS html
  FROM documents
),
am AS (SELECT unnest(regexp_extract_all(html, '{pat}', 0)) AS a
       FROM links),
atgt AS (
  SELECT CAST(regexp_extract(
           regexp_replace(
             regexp_extract(a, '{pat}', 1),
             '(?s)^"(.*)"$|^''(.*)''$', '\1\2'),
           '^/page/([0-9]+)$', 1) AS BIGINT) AS doc_id,
         CAST(count(*) AS BIGINT) AS n_anchors
  FROM am GROUP BY 1
),
p(off, pterm) AS (VALUES {vals}),
votes AS (
  SELECT doc_id, pos - off AS anchor, off
  FROM tok2 JOIN p ON term = pterm
  WHERE pos - off >= 0
),
occ AS (
  SELECT doc_id, anchor FROM votes
  GROUP BY 1, 2 HAVING count(DISTINCT off) = {len(_PHRASE)}
),
phr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occ
        FROM occ GROUP BY 1),
scored AS (
  SELECT bm.doc_id, bm.n_hits,
         COALESCE(atgt.n_anchors, 0) AS n_anchors,
         COALESCE(phr.n_occ, 0) AS phrase_hits,
         round(bm.score
               + 0.4 * ln(1.0 + COALESCE(atgt.n_anchors, 0))
               + 0.25 * ln(1.0 + COALESCE(phr.n_occ, 0)), 6)
           AS final_score
  FROM bm LEFT JOIN atgt USING (doc_id) LEFT JOIN phr USING (doc_id)
),
top AS (SELECT * FROM scored
        ORDER BY final_score DESC, doc_id LIMIT {_SEARCH_TOPK})
SELECT doc_id, n_hits, n_anchors, phrase_hits, final_score,
       CAST(row_number() OVER (ORDER BY final_score DESC, doc_id)
            AS BIGINT) AS rank
FROM top
"""


# --- named-agent robots.txt gate variant -------------------------------------

_ROBOTS_NAMED_BODIES = [
    # v0: named group blocks what '*' allows — the RFC 9309 §2.2.1 case
    "User-agent: corpusbot\nDisallow: /\n\nUser-agent: *\nAllow: /\n",
    # v1: named group RELAXES a '*' block (allow carve-out for the bot;
    # /private/open/ is one of the walked paths, so the carve-out fires)
    "User-agent: *\nDisallow: /\n\n"
    "User-agent: corpusbot\nAllow: /private/open/\nDisallow: /\n",
    # v2: invalid '*bot' segment — binds NOBODY — plus an EOF-empty
    # named group: corpusbot is MATCHED with zero rules, so it gets no
    # restrictions and does NOT inherit '*' (RFC 9309 §2.2.1); here '*'
    # allows everything anyway, so the discriminator is match_len
    # (0 for the empty named group vs 1 via the star Allow)
    "User-agent: *bot\nDisallow: /\n\nUser-agent: *\nAllow: /\n\n"
    "User-agent: corpusbot\n",
    # v3: no group names the crawler -> falls back to '*'
    "User-agent: googlebot\nDisallow: /\n\n"
    "User-agent: *\nDisallow: /private/\n",
    # v4: named group bound via a STACKED agent list (RFC 9309 ABNF:
    # consecutive User-agent lines share the following rules), no '*'
    # group at all
    "User-agent: otherbot\nUser-agent: corpusbot\nDisallow: /tmp/\n",
]


def _q_robots_txt_gate_named(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt gate for a NAMED crawler ('corpusbot'): five bodies
    where the named group must override, relax, or fall back to the
    default group per RFC 9309 §2.2.1 — plus the '*bot' invalid-segment
    trap the round-10 token-equality fix closed.  Same longest-match /
    allow-wins arithmetic as the default-agent gate row."""
    from ..functions.robots import robots_allowed, robots_rules

    docs = _docs(spark, sf_dir)
    dom = F.col("doc_id") % 13
    robots = (docs.select(dom.alias("domain")).distinct()
              .select("domain",
                      F.element_at(
                          F.array(*[F.lit(b)
                                    for b in _ROBOTS_NAMED_BODIES]),
                          (F.col("domain") % 5 + 1).cast("int"))
                      .alias("robots_txt")))
    path = F.element_at(F.array(*[F.lit(p) for p in _ROBOTS_TXT_PATHS]),
                        (F.col("doc_id") % 6 + 1).cast("int"))
    urls = docs.select(
        "doc_id", dom.alias("domain"),
        F.concat(F.lit("https://named-"), dom.cast("string"),
                 F.lit(".example.com"), path).alias("url"))
    return robots_allowed(urls,
                          robots_rules(robots, user_agent="corpusbot"))


def _robots_txt_gate_named_sql() -> str:
    bodies = " ".join(
        f"WHEN {i} THEN '{b}'".replace("\n", "' || chr(10) || '")
        for i, b in enumerate(_ROBOTS_NAMED_BODIES))
    paths = " ".join(f"WHEN {i} THEN '{p}'"
                     for i, p in enumerate(_ROBOTS_TXT_PATHS))
    return f"""
WITH doms AS (SELECT DISTINCT doc_id % 13 AS dom FROM documents),
bod AS (
  SELECT dom, CASE dom % 5 {bodies} END AS body FROM doms
),
{_robots_group_ctes(ua="corpusbot")},
rawr AS (
  SELECT dom, unnest(regexp_extract_all(
           seg,
           '(?im)^[ \\t]*(allow|disallow)[ \\t]*:[ \\t]*([^#\\r\\n]*)',
           0)) AS m
  FROM merged
),
rul AS (
  SELECT dom,
         CASE WHEN lower(regexp_extract(m, '(?i)(allow|disallow)', 1))
              = 'allow' THEN 1 ELSE 0 END AS is_allow,
         trim(regexp_extract(m, ':(.*)$', 1)) AS path
  FROM rawr
  WHERE trim(regexp_extract(m, ':(.*)$', 1)) <> ''
),
pats AS (
  SELECT dom, is_allow, CAST(length(path) AS INTEGER) AS rule_len,
         CASE WHEN right(wild, 1) = '$'
              THEN substring(wild, 1, length(wild) - 1)
              ELSE wild || '%' END AS pat
  FROM (SELECT dom, is_allow, path,
               replace(replace(replace(replace(path,
                 '!', '!!'), '%', '!%'), '_', '!_'), '*', '%') AS wild
        FROM rul)
),
u AS (
  SELECT doc_id, doc_id % 13 AS dom,
         regexp_extract(
           'https://named-' || CAST(doc_id % 13 AS VARCHAR) ||
           '.example.com' || CASE doc_id % 6 {paths} END,
           '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS p0
  FROM documents
),
up AS (SELECT doc_id, dom,
              CASE WHEN p0 = '' THEN '/' ELSE p0 END AS p FROM u),
agg AS (
  SELECT up.doc_id,
         max(CASE WHEN r.pat IS NOT NULL
                   AND up.p LIKE r.pat ESCAPE '!'
                  THEN r.rule_len * 2 + r.is_allow END) AS pk
  FROM up LEFT JOIN pats r USING (dom)
  GROUP BY 1
)
SELECT doc_id,
       CASE WHEN pk IS NULL OR pk % 2 = 1 THEN 1 ELSE 0 END AS allowed,
       CAST(COALESCE(pk // 2, 0) AS INTEGER) AS match_len
FROM agg
"""


# --- Crawl-delay-paced schedule -----------------------------------------------

_ROBOTS_DELAY_BODIES = [
    "User-agent: *\nCrawl-delay: 2\nDisallow: /private/\n",
    "User-agent: *\nCrawl-delay: 0.5\nCrawl-delay: 4\nAllow: /\n",
    "User-agent: *\nDisallow: /tmp/\n",    # no delay -> caller default
]


def _q_crawl_schedule_paced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt -> Crawl-delay -> schedule composition: per-domain
    delays parsed from the binding group (max across lines) pace the
    sharded schedule's not_before_s per-SLOT (Crawl-delay is the
    interval between successive requests); hosts without a stated delay
    pace per-wave at the 1.5 s default.  One broadcast delay join on
    top of the crawl_schedule gate row's plan."""
    from ..functions.crawl import crawl_schedule
    from ..functions.robots import robots_crawl_delays

    docs = _docs(spark, sf_dir)
    dom = F.col("doc_id") % 7
    host = F.concat(F.lit("paced-"), dom.cast("string"),
                    F.lit(".example.com"))
    robots = (docs.select(dom.alias("d")).distinct()
              .select(
                  F.concat(F.lit("paced-"), F.col("d").cast("string"),
                           F.lit(".example.com")).alias("host"),
                  F.element_at(
                      F.array(*[F.lit(b) for b in _ROBOTS_DELAY_BODIES]),
                      (F.col("d") % 3 + 1).cast("int"))
                  .alias("robots_txt")))
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("https://"), host, F.lit("/p/"),
                 F.col("doc_id").cast("string")).alias("url"))
    delays = robots_crawl_delays(robots, key_col="host")
    return crawl_schedule(urls, per_wave=4, delays=delays,
                          default_delay_s=1.5)


def _crawl_schedule_paced_sql() -> str:
    bodies = " ".join(
        f"WHEN {i} THEN '{b}'".replace("\n", "' || chr(10) || '")
        for i, b in enumerate(_ROBOTS_DELAY_BODIES))
    return f"""
WITH doms AS (SELECT DISTINCT doc_id % 7 AS d FROM documents),
bod AS (
  SELECT 'paced-' || CAST(d AS VARCHAR) || '.example.com' AS dom,
         CASE d % 3 {bodies} END AS body
  FROM doms
),
{_robots_group_ctes()},
dl AS (
  SELECT dom AS host,
         list_max(list_transform(
           regexp_extract_all(seg,
             '(?im)^[ \\t]*crawl-delay[ \\t]*:[ \\t]*([0-9]+(?:\\.[0-9]+)?)',
             1),
           x -> CAST(x AS DOUBLE))) AS crawl_delay
  FROM merged
),
u AS (
  SELECT doc_id,
         'paced-' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host
  FROM documents
),
sched AS (
  SELECT doc_id, host,
         CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id) - 1
              AS BIGINT) AS slot
  FROM u
)
SELECT s.doc_id, s.host, s.slot,
       CAST(s.slot // 4 AS BIGINT) AS wave,
       round(CASE WHEN dl.crawl_delay IS NOT NULL
                  THEN s.slot * dl.crawl_delay
                  ELSE (s.slot // 4) * 1.5 END, 6)
         AS not_before_s
FROM sched s LEFT JOIN dl USING (host)
"""


def _backoff_host(col, mod: int):
    return F.concat(F.lit("backoff-"), (col % mod).cast("string"),
                    F.lit(".example.com"))


def _q_crawl_backoff_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly-aware politeness schedule — the READ side of the rolling
    z-score detector (VERDICT r11 task 9): per-host hourly fetch-rate
    anomalies (events keyed onto 7 synthetic hosts) back off the paced
    schedule's cadence via functions/crawl.py:anomaly_backoff, the way
    host reputation feeds frontier_rank's seed order.  Plan: the
    detector's one count-agg + one bounded window (host-keyed — bucket
    rows are timeline-hours), collapsed to a host-cardinality flags
    frame, broadcast onto the sharded-rank schedule; the even-numbered
    hosts carry a stated 2 s Crawl-delay so both pacing arms compose
    with the backoff.  The URL space spans 9 hosts but fetch events
    only 7, so hosts 7/8 have NO detector history and keep their
    un-backed-off cadence — both CASE arms fire at every SF."""
    from ..functions.crawl import anomaly_backoff, crawl_schedule
    from ..operators.timeseries import rolling_zscore_anomalies
    from ..sources.tables import read_table

    docs = _docs(spark, sf_dir)
    events = read_table(spark, sf_dir, "events")
    fetches = events.select(
        _backoff_host(F.col("user_id"), 7).alias("host"), "ts_ms")
    anomalies = rolling_zscore_anomalies(fetches, grid_ms=3_600_000,
                                         window=24, min_history=8,
                                         z_threshold=3, id_col="host")
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("https://"), _backoff_host(F.col("doc_id"), 9),
                 F.lit("/p/"), F.col("doc_id").cast("string")).alias("url"))
    delays = (docs.select((F.col("doc_id") % 9).alias("d")).distinct()
              .where(F.col("d") % 2 == 0)
              .select(_backoff_host(F.col("d"), 9).alias("host"),
                      F.lit(2.0).alias("crawl_delay")))
    sched = crawl_schedule(urls, per_wave=4, delays=delays,
                           default_delay_s=1.0)
    return anomaly_backoff(sched, anomalies, backoff=4)


def _crawl_backoff_schedule_sql() -> str:
    from .relational import z_anomaly_select

    return f"""
WITH fc AS (
  SELECT 'backoff-' || CAST(user_id % 7 AS VARCHAR) || '.example.com'
           AS host,
         (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ts,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
an AS ({z_anomaly_select("fc", "host")}),
fl AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_anomalies
  FROM an WHERE is_anomaly = 1 GROUP BY 1
),
u AS (
  SELECT doc_id,
         'backoff-' || CAST(doc_id % 9 AS VARCHAR) || '.example.com'
           AS host,
         doc_id % 9 AS d
  FROM documents
),
sched AS (
  SELECT doc_id, host, d,
         CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id) - 1
              AS BIGINT) AS slot
  FROM u
),
p AS (
  SELECT doc_id, host, slot,
         CAST(slot // 4 AS BIGINT) AS wave,
         round(CASE WHEN d % 2 = 0 THEN slot * 2.0
                    ELSE (slot // 4) * 1.0 END, 6) AS not_before_s
  FROM sched
)
SELECT p.doc_id, p.host, p.slot, p.wave, p.not_before_s,
       COALESCE(fl.n_anomalies, 0) AS n_anomalies,
       round(p.not_before_s
             * CASE WHEN COALESCE(fl.n_anomalies, 0) > 0 THEN 4 ELSE 1
               END, 6) AS not_before_backoff_s
FROM p LEFT JOIN fl USING (host)
"""


def _q_vp8_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED lossy-WebP (VP8 key-frame intra) codec per doc
    (functions/vp8.py via multimodal.py:vp8_roundtrip_stats) — the
    round-12 closing of the lossy-VP8 pixel seam.  The oracle
    reproduces dims/n_mb/qi/forced-modes from the id arithmetic and
    pins ``bit_exact`` = 1 (decode equals the encoder's own integer
    reconstruction — the lossy analogue of the lossless flag)."""
    from ..functions.multimodal import vp8_roundtrip_stats

    return vp8_roundtrip_stats(_docs(spark, sf_dir))


_VP8_ROUNDTRIP_SQL = """
WITH kk AS (SELECT doc_id, doc_id % 48 AS k FROM documents)
SELECT doc_id,
       CAST(16 + (k % 3) * 9 AS INTEGER) AS width,
       CAST(16 + (k % 2) * 5 AS INTEGER) AS height,
       CAST(((16 + (k % 3) * 9 + 15) // 16)
            * ((16 + (k % 2) * 5 + 15) // 16) AS INTEGER) AS n_mb,
       CAST((k % 8) * 9 AS INTEGER) AS qi,
       CAST(k % 4 AS INTEGER) AS y_mode,
       CAST((k % 16) // 4 AS INTEGER) AS uv_mode,
       CAST(1 AS INTEGER) AS bit_exact
FROM kk
"""


def _q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed n-gram importance weights (Xie et al. 2023) over the
    documents corpus with the self-contained 'stream'-containment
    target — functions/sampling.py:dsir_weights.  The oracle replays
    the identical algebra: unigram+bigram md5-fold buckets, add-one
    log ratios of target vs raw bucket distributions, per-doc sums
    rounded to 6 dp, selected = (weight > 0)."""
    from ..functions.sampling import dsir_weights

    return dsir_weights(_docs(spark, sf_dir))


def _dsir_sql() -> str:
    from ..functions.sampling import DSIR_DIM

    fold = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(g), {i + 1}, 1)) - 1)"
        f" * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"""
WITH {_WORDS_CTE},
wf AS (SELECT doc_id,
              list_filter(ws, x -> length(x) > 0) AS ws
       FROM w),
tok AS (SELECT doc_id, unnest(ws) AS term,
               generate_subscripts(ws, 1) AS pos
        FROM wf),
grams AS (
  SELECT doc_id, term AS g FROM tok
  UNION ALL
  SELECT a.doc_id, a.term || ' ' || b.term AS g
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
tgt AS (SELECT doc_id,
               CAST(list_contains(ws, 'stream') AS INT) AS is_target
        FROM wf),
ex AS (SELECT gr.doc_id, t.is_target, ({fold}) % {DSIR_DIM} AS bucket
       FROM grams gr JOIN tgt t USING (doc_id)),
dist AS (SELECT bucket, CAST(count(*) AS BIGINT) AS q_b,
                CAST(sum(is_target) AS BIGINT) AS p_b
         FROM ex GROUP BY 1),
tot AS (SELECT CAST(sum(q_b) AS BIGINT) AS nq,
               CAST(sum(p_b) AS BIGINT) AS np FROM dist),
lr AS (SELECT bucket,
              ln(CAST(p_b + 1 AS DOUBLE))
              - ln(CAST(np + {DSIR_DIM} AS DOUBLE))
              - ln(CAST(q_b + 1 AS DOUBLE))
              + ln(CAST(nq + {DSIR_DIM} AS DOUBLE)) AS lr
       FROM dist CROSS JOIN tot),
dw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
              sum(lr) AS w
       FROM ex JOIN lr USING (bucket) GROUP BY 1)
SELECT t.doc_id,
       CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
       t.is_target,
       round(COALESCE(w, 0.0), 6) AS log_weight,
       CAST(round(COALESCE(w, 0.0), 6) > 0 AS INT) AS selected
FROM tgt t LEFT JOIN dw USING (doc_id)
"""


def _q_webp_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED VP8L encode+decode roundtrip per doc (functions/vp8l.py
    via multimodal.py:webp_roundtrip_stats) — pixel decode for
    transform-free lossless WebP, the round-11 narrowing of the WebP
    seam.  The oracle reproduces dims, per-channel sums, and the
    lossless flag from the id arithmetic without touching WebP bytes."""
    from ..functions.multimodal import webp_roundtrip_stats

    return webp_roundtrip_stats(_docs(spark, sf_dir))


_WEBP_ROUNDTRIP_SQL = """
WITH px AS (
  SELECT d.doc_id, x.x, y.y
  FROM documents d,
       (SELECT unnest(generate_series(0, 7)) AS x) x,
       (SELECT unnest(generate_series(0, 3)) AS y) y
)
SELECT doc_id,
       CAST(8 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
       CAST(sum((doc_id + 3 * x + 5 * y) % 11) AS BIGINT) AS sum_r,
       CAST(sum((doc_id + x + y) % 16) AS BIGINT) AS sum_g,
       CAST(sum((doc_id + 7 * x) % 5) AS BIGINT) AS sum_b,
       CAST(1 AS INTEGER) AS lossless
FROM px GROUP BY 1
"""


def _q_webp_palette_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED color-indexing decode (round 12, functions/vp8l.py via
    multimodal.py:webp_palette_stats): delta-coded palettes across
    every pixel-bundling width decode back through the general
    decoder; the oracle reproduces the channel sums from the id
    arithmetic alone."""
    from ..functions.multimodal import webp_palette_stats

    return webp_palette_stats(_docs(spark, sf_dir))


_WEBP_PALETTE_SQL = """
WITH px AS (
  SELECT d.doc_id, d.doc_id % 24 AS k, x.x, y.y
  FROM documents d,
       (SELECT unnest(generate_series(0, 7)) AS x) x,
       (SELECT unnest(generate_series(0, 3)) AS y) y
),
c AS (
  SELECT doc_id, k, x, y,
         CASE k % 6 WHEN 0 THEN 20 WHEN 1 THEN 16 WHEN 2 THEN 5
                    WHEN 3 THEN 4 WHEN 4 THEN 3 ELSE 2 END AS n
  FROM px
),
i AS (SELECT doc_id, k, n, (x + y + k) % n AS i FROM c),
s AS (
  SELECT doc_id, k, n,
         sum((7 * k + 13 * i) % 256) AS sr,
         sum((3 * k + 5 * i) % 256) AS sg,
         sum((11 * k + 17 * i) % 256) AS sb
  FROM i GROUP BY 1, 2, 3
)
SELECT doc_id,
       CAST(8 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
       CAST(n AS INTEGER) AS n_colors,
       CAST(sr AS BIGINT) AS sum_r,
       CAST(sg AS BIGINT) AS sum_g,
       CAST(sb AS BIGINT) AS sum_b,
       CAST(1 AS INTEGER) AS lossless
FROM s
"""


def _q_webp_entropy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED entropy-image decode (round 12, functions/vp8l.py via
    multimodal.py:webp_entropy_stats): two per-tile prefix-code groups
    decode through the meta-prefix-group path; the oracle reproduces
    the channel sums from the id arithmetic alone."""
    from ..functions.multimodal import webp_entropy_stats

    return webp_entropy_stats(_docs(spark, sf_dir))


_WEBP_ENTROPY_SQL = """
WITH px AS (
  SELECT d.doc_id, d.doc_id % 16 AS k, x.x, y.y
  FROM documents d,
       (SELECT unnest(generate_series(0, 7)) AS x) x,
       (SELECT unnest(generate_series(0, 3)) AS y) y
),
s AS (
  SELECT doc_id,
         sum((k + 5 * x + 3 * y) % 16) AS sr,
         sum((k + 2 * x + y) % 16) AS sg,
         sum((k + x + 7 * y) % 16) AS sb
  FROM px GROUP BY 1
)
SELECT doc_id,
       CAST(8 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
       CAST(2 AS INTEGER) AS n_groups,
       CAST(sr AS BIGINT) AS sum_r,
       CAST(sg AS BIGINT) AS sum_g,
       CAST(sb AS BIGINT) AS sum_b,
       CAST(1 AS INTEGER) AS lossless
FROM s
"""


def _q_webp_predictor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED predictor-transform decode (round 12, functions/vp8l.py
    via multimodal.py:webp_predictor_stats): forward-transformed VP8L
    streams with per-tile modes spanning all 14 predictors decode back
    through the general decoder; the oracle reproduces sums + modes +
    the lossless flag from the id arithmetic alone."""
    from ..functions.multimodal import webp_predictor_stats

    return webp_predictor_stats(_docs(spark, sf_dir))


_WEBP_PREDICTOR_SQL = """
WITH px AS (
  SELECT d.doc_id, d.doc_id % 16 AS k, x.x, y.y
  FROM documents d,
       (SELECT unnest(generate_series(0, 7)) AS x) x,
       (SELECT unnest(generate_series(0, 3)) AS y) y
),
s AS (
  SELECT doc_id, k,
         sum((k + 3 * x + 5 * y) % 16) AS sr,
         sum((k + x + y) % 16) AS sg,
         sum((k + 7 * x) % 16) AS sb
  FROM px GROUP BY 1, 2
)
SELECT doc_id,
       CAST(8 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
       CAST(k % 14 AS INTEGER) AS mode_a,
       CAST((k + 7) % 14 AS INTEGER) AS mode_b,
       CAST(sr AS BIGINT) AS sum_r,
       CAST(sg AS BIGINT) AS sum_g,
       CAST(sb AS BIGINT) AS sum_b,
       CAST(1 AS INTEGER) AS lossless
FROM s
"""


def _q_webp_lz77_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED near-distance LZ77 decode (round 13 —
    functions/vp8l.py:VP8L_DIST_MAP, the last VP8L seam closed, via
    multimodal.py:webp_lz77_stats): row-tiled VP8L streams whose
    backward references carry ONLY near-distance plane codes."""
    from ..functions.multimodal import webp_lz77_stats

    return webp_lz77_stats(_docs(spark, sf_dir))


_WEBP_LZ77_SQL = """
WITH px AS (
  SELECT d.doc_id, d.doc_id % 16 AS k, x.x, y.y
  FROM documents d,
       (SELECT unnest(generate_series(0, 7)) AS x) x,
       (SELECT unnest(generate_series(0, 5)) AS y) y
),
s AS (
  SELECT doc_id, k,
         sum((k + 3 * x + 2 * (y % 2)) % 16) AS sr,
         sum((k + x + y % 2) % 16) AS sg,
         sum((k + 5 * x) % 16) AS sb
  FROM px GROUP BY 1, 2
)
SELECT doc_id,
       CAST(8 AS INTEGER) AS width, CAST(6 AS INTEGER) AS height,
       CAST(sr AS BIGINT) AS sum_r,
       CAST(sg AS BIGINT) AS sum_g,
       CAST(sb AS BIGINT) AS sum_b,
       CAST(1 AS INTEGER) AS compressed,
       CAST(1 AS INTEGER) AS lossless
FROM s
"""


def _q_webdataset_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard WRITER roundtrip (functions/tarfmt.py:
    pack_webdataset_shards + build_ustar, round 13): pack the corpus
    into 16-doc tar shards ({id}.txt + {id}.json per sample), then
    walk the PACKED BYTES back through webdataset_manifest — writer
    and reader are independent layouts of the same public spec, and
    stdlib tarfile reads the writer's output in pytest (the
    three-way cross-validation).  The oracle reproduces every
    manifest column from documents arithmetic, including the
    order-canonical names fingerprint."""
    from ..functions.tarfmt import (pack_webdataset_shards,
                                    webdataset_manifest)

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    packed = pack_webdataset_shards(docs, samples_per_shard=16)
    return webdataset_manifest(packed, id_col="shard_id").orderBy(
        "shard_id")


_WEBDATASET_PACK_SQL = """
WITH d AS (
  SELECT doc_id, doc_id // 16 AS shard_id,
         strlen(text) AS tlen,
         7 + length(CAST(doc_id AS VARCHAR)) AS jlen,
         -- DuckDB lpad TRUNCATES past the width where python's
         -- %012d only pads (the documented lpad trap) — pad only
         -- when the id is short, and derive the length prefixes
         -- from the actual name
         CASE WHEN length(CAST(doc_id AS VARCHAR)) >= 12
              THEN CAST(doc_id AS VARCHAR)
              ELSE lpad(CAST(doc_id AS VARCHAR), 12, '0') END AS nm
  FROM documents
),
c AS (
  SELECT shard_id,
         CAST(length(nm) + 4 AS VARCHAR) || ':' || nm || '.txt|'
           || CAST(length(nm) + 5 AS VARCHAR) || ':' || nm
           || '.json' AS pair,
         doc_id, tlen, jlen
  FROM d
)
SELECT shard_id,
       CAST(2 * count(*) AS INTEGER) AS n_entries,
       CAST(count(*) AS INTEGER) AS n_samples,
       CAST(sum(tlen + jlen) AS BIGINT) AS size_total,
       CAST(count(*) AS INTEGER) AS complete_samples,
       md5(string_agg(pair, '|' ORDER BY doc_id)) AS names_md5
FROM c
GROUP BY shard_id
"""


def _q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition-removal battery (functions/quality.py:
    gopher_repetition — Rae et al. 2021 A1.2) over synthesized
    line-structured docs: six lines in two paragraphs, with
    deterministic repetition arms — doc_id %% 5 == 0 duplicates a
    line twice, %% 7 == 0 duplicates the whole first paragraph,
    %% 4 == 0 appends a period-3 spam tail (fires the top-gram and
    dup-5/10-gram coverage signals).  The oracle RE-IMPLEMENTS every
    signal in DuckDB list/window SQL over the identical synthesized
    text — a genuine two-implementation check, not closed-form
    reproduction."""
    from ..functions.quality import gopher_repetition

    d = F.col("doc_id")
    a = (d % 9).cast("string")

    def line(j: int):
        jj = (F.when((d % 5 == 0) & F.lit(j in (3, 4)), F.lit("2"))
              .otherwise(F.lit(str(j))))
        return F.concat(F.lit("item "), a,
                        F.lit(" alpha beta gamma "), jj)

    p1 = F.concat_ws("\n", line(0), line(1), line(2))
    p2 = F.when(d % 7 == 0, p1).otherwise(
        F.concat_ws("\n", line(3), line(4), line(5)))
    spam = " ".join(["spam ham jam"] * 8)
    text = F.concat(
        p1, F.lit("\n\n"), p2,
        F.when(d % 4 == 0, F.lit("\n" + spam)).otherwise(F.lit("")))
    docs = _docs(spark, sf_dir).select("doc_id", text.alias("text"))
    return gopher_repetition(docs)


def _gopher_repetition_sql() -> str:
    from ..functions.quality import GOPHER_REP_THRESHOLDS_PPM as TH

    spam = " ".join(["spam ham jam"] * 8)
    lines = ", ".join(
        "'item ' || CAST(doc_id % 9 AS VARCHAR) || ' alpha beta gamma '"
        " || " + (f"(CASE WHEN doc_id % 5 = 0 THEN '2' ELSE '{j}' END)"
                  if j in (3, 4) else f"'{j}'") + f" AS l{j}"
        for j in range(6))
    passes = " AND ".join(
        f"COALESCE({name}0, 0) <= {bound}"
        for name, bound in TH.items())
    ppm_cols = ",\n       ".join(
        f"CAST(COALESCE({name}0, 0) AS BIGINT) AS {name}"
        for name in TH)
    return rf"""
WITH ls AS (SELECT doc_id, {lines} FROM documents),
t AS (
  SELECT doc_id,
         (l0 || chr(10) || l1 || chr(10) || l2) || chr(10) || chr(10)
         || (CASE WHEN doc_id % 7 = 0
                  THEN l0 || chr(10) || l1 || chr(10) || l2
                  ELSE l3 || chr(10) || l4 || chr(10) || l5 END)
         || (CASE WHEN doc_id % 4 = 0 THEN chr(10) || '{spam}'
                  ELSE '' END) AS text
  FROM ls
),
nrm AS (SELECT doc_id,
               length(lower(regexp_replace(trim(text), '\s+', ' ',
                                           'g'))) AS nchars
        FROM t),
seg AS (
  SELECT doc_id, 'line' AS k,
         unnest(list_filter(string_split(text, chr(10)),
                            x -> length(x) > 0)) AS s
  FROM t
  UNION ALL
  SELECT doc_id, 'para' AS k,
         unnest(list_filter(string_split(text, chr(10) || chr(10)),
                            x -> length(x) > 0)) AS s
  FROM t
),
sg AS (SELECT doc_id, k, s, count(*) AS c FROM seg GROUP BY 1, 2, 3),
sa AS (
  SELECT doc_id, k, sum(c) AS n, sum(c - 1) AS dup,
         sum(c * length(s)) AS chars,
         sum((c - 1) * length(s)) AS dup_chars
  FROM sg GROUP BY 1, 2
),
w AS (SELECT doc_id,
             string_split(lower(regexp_replace(trim(text), '\s+', ' ',
                                               'g')), ' ') AS ws
      FROM t),
g0 AS (
  SELECT doc_id, n,
         unnest(generate_series(1, greatest(len(ws) - n + 1, 0))) AS p,
         ws
  FROM w, (SELECT unnest([2, 3, 4, 5, 10]) AS n) ns
),
g AS (SELECT doc_id, n, p,
             array_to_string(ws[p:p+n-1], ' ') AS gram
      FROM g0),
gc AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
top AS (
  SELECT doc_id, n, topchars FROM (
    SELECT doc_id, n, c * length(gram) AS topchars,
           row_number() OVER (PARTITION BY doc_id, n
                              ORDER BY c * length(gram) DESC, gram)
             AS rk
    FROM gc WHERE c >= 2) WHERE rk = 1
),
cover AS (
  SELECT doc_id, n, unnest(generate_series(p, p + n - 1)) AS wp
  FROM (SELECT g.doc_id, g.n, g.p, g.gram FROM g
        JOIN gc USING (doc_id, n, gram)
        WHERE gc.c >= 2 AND g.n IN (5, 10)) q
),
coveru AS (SELECT DISTINCT doc_id, n, wp FROM cover),
wl0 AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS wp, ws
        FROM w),
wl AS (SELECT doc_id, wp, length(ws[wp]) AS wlen FROM wl0),
cv AS (
  SELECT c.doc_id, c.n, sum(wl.wlen) AS cchars
  FROM coveru c JOIN wl ON wl.doc_id = c.doc_id AND wl.wp = c.wp
  GROUP BY 1, 2
),
m AS (
  SELECT t.doc_id,
         COALESCE(la.n, 0) AS line_n,
         1000000 * la.dup // NULLIF(la.n, 0) AS dup_line_ppm0,
         1000000 * pa.dup // NULLIF(pa.n, 0) AS dup_para_ppm0,
         1000000 * la.dup_chars // NULLIF(la.chars, 0)
           AS dup_line_char_ppm0,
         1000000 * pa.dup_chars // NULLIF(pa.chars, 0)
           AS dup_para_char_ppm0,
         1000000 * t2.topchars // NULLIF(nrm.nchars, 0)
           AS top2_char_ppm0,
         1000000 * t3.topchars // NULLIF(nrm.nchars, 0)
           AS top3_char_ppm0,
         1000000 * t4.topchars // NULLIF(nrm.nchars, 0)
           AS top4_char_ppm0,
         1000000 * c5.cchars // NULLIF(nrm.nchars, 0)
           AS dup5_char_ppm0,
         1000000 * c10.cchars // NULLIF(nrm.nchars, 0)
           AS dup10_char_ppm0
  FROM t
  JOIN nrm USING (doc_id)
  LEFT JOIN (SELECT * FROM sa WHERE k = 'line') la USING (doc_id)
  LEFT JOIN (SELECT * FROM sa WHERE k = 'para') pa USING (doc_id)
  LEFT JOIN (SELECT * FROM top WHERE n = 2) t2 USING (doc_id)
  LEFT JOIN (SELECT * FROM top WHERE n = 3) t3 USING (doc_id)
  LEFT JOIN (SELECT * FROM top WHERE n = 4) t4 USING (doc_id)
  LEFT JOIN (SELECT * FROM cv WHERE n = 5) c5 USING (doc_id)
  LEFT JOIN (SELECT * FROM cv WHERE n = 10) c10 USING (doc_id)
)
SELECT doc_id,
       CAST(line_n AS BIGINT) AS n_lines,
       {ppm_cols},
       CAST(CASE WHEN {passes} THEN 1 ELSE 0 END AS INTEGER)
         AS passes_repetition
FROM m
"""


def _pdf_text_fixture_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pdf_text_extract fixture corpus (shared with the datasheet
    media row — ONE rendering of the arithmetic).  Every fourth doc
    is laid out as a PDF 1.5 cross-reference STREAM with its page
    tree inside an /ObjStm (round 14 — the former typed seam, now a
    walked layout), so the 1.5 path executes at the gate at every SF;
    the extracted text is layout-invariant, so the oracle is
    unchanged."""
    import pandas as pd

    from ..functions.pdffmt import build_pdf_text, build_pdf_xref_stream

    def pack(batches):
        for pdf in batches:
            def doc(doc_id: int) -> bytes:
                p1 = (f"Doc {doc_id} (section {doc_id % 7})\n"
                      f"path C:\\data\\{doc_id % 5}")
                p2 = f"tail page for {doc_id % 11}"
                if doc_id % 4 == 1:
                    return build_pdf_xref_stream(
                        [p1, p2], flate=(doc_id % 3 != 0))
                return build_pdf_text([p1, p2],
                                      flate=(doc_id % 3 != 0))

            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "content": pdf["doc_id"].map(doc),
            })

    return _docs(spark, sf_dir).select("doc_id").mapInPandas(
        pack, "doc_id long, content binary")


def _q_pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text extraction (functions/pdffmt.py:pdf_extract_text —
    xref-walked /Contents streams, bounded Flate inflate, BT..ET
    literal/hex strings with all spec escapes): two-page fixtures
    whose page-1 text carries parens, backslashes, and a newline (the
    T* line-break path), page 2 plain — writer escaping independent
    of reader unescaping.  Every third doc's streams are
    UNCOMPRESSED so both filter arms fire at every SF.  The oracle
    reproduces the extracted text verbatim from doc_id arithmetic."""
    media = _pdf_text_fixture_media(spark, sf_dir)

    from collections.abc import Iterator

    from pyspark.sql import types as T

    from ..functions.pdffmt import pdf_extract_text

    schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_chars", T.IntegerType(), True),
        T.StructField("text", T.StringType(), True),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            txt = pdf["content"].map(
                lambda b: pdf_extract_text(bytes(b)))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_chars": txt.map(len).astype("int32"),
                "text": txt,
            })

    return media.mapInPandas(run, schema)


# Shared pdf-text-fixture arithmetic (pdf_text_extract row + the
# datasheet media row — ONE rendering in both engines).
_PDF_TEXT_CTE = r"""
pdft AS (
  SELECT doc_id,
         'Doc ' || CAST(doc_id AS VARCHAR) || ' (section '
           || CAST(doc_id % 7 AS VARCHAR) || ')' || chr(10)
           || 'path C:\data\' || CAST(doc_id % 5 AS VARCHAR)
           || chr(10) || chr(10)
           || 'tail page for ' || CAST(doc_id % 11 AS VARCHAR) AS text
  FROM documents
)"""

_PDF_TEXT_SQL = f"""
WITH {_PDF_TEXT_CTE.strip()}
SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars, text
FROM pdft
"""


def _mp4_fixture_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mp4_stats fixture corpus (shared with the datasheet media
    row — ONE rendering of the arithmetic)."""
    import pandas as pd

    from ..functions.multimodal import build_mp4

    def pack(batches):
        for pdf in batches:
            def doc(doc_id: int) -> bytes:
                ts = 1000 if doc_id % 2 == 0 else 48_000
                dur = (doc_id % 300 + 1) * ts      # 1..300 s exactly
                tracks = ((("vide", "avc1"), ("soun", "mp4a")),
                          (("vide", "hvc1"),),
                          (("soun", "Opus"),))[doc_id % 3]
                nv = doc_id % 240 + 2
                na1, na2 = doc_id % 500 + 2, doc_id % 7 + 1
                specs = {
                    "vide": {
                        "timescale": 30_000,
                        "stts": [(nv, 1001)],
                        "sizes": (500 + doc_id % 100
                                  if doc_id % 2 == 0 else
                                  [100 + (doc_id + i) % 9
                                   for i in range(nv)]),
                        "n_chunks": 1 + doc_id % 5,
                    },
                    "soun": {
                        "timescale": 48_000,
                        "stts": [(na1, 1024), (na2, 960)],
                        "sizes": 200 + doc_id % 50,
                        "n_chunks": 2,
                    },
                }
                return build_mp4(dur, ts, tracks=tracks,
                                 mvhd_version=doc_id % 2,
                                 sample_specs=specs,
                                 with_edit_list=doc_id % 3 == 0)

            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "content": pdf["doc_id"].map(doc),
            })

    return _docs(spark, sf_dir).select("doc_id").mapInPandas(
        pack, "doc_id long, content binary")


def _q_mp4_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 movie triage (functions/multimodal.py:mp4_stats via the
    SHARED _bmff_boxes walk — the video analogue of mp3_stats):
    per-doc fixtures alternate mvhd v0/v1 layouts, track sets cycle
    video+audio / video-only / audio-only, and duration/timescale
    derive from doc_id arithmetic.  Round 14 extends the triage
    through the sample index (mdhd/stts/stsz/stco): every track
    carries real tables — the video track alternates fixed-size and
    per-sample stsz layouts, the audio track exercises multi-entry
    stts — and every third movie carries an edts/elst edit list the
    walk must tolerate.  The oracle reproduces every column,
    including the index-derived exact durations, sample counts, and
    bitrates."""
    from ..functions.multimodal import mp4_container_stats

    return mp4_container_stats(_mp4_fixture_media(spark, sf_dir))


# Shared mp4-fixture arithmetic (mp4_stats row + the datasheet media
# row — ONE rendering in both engines).
_MP4_FIXTURE_CTES = """
mp4sp AS (
  SELECT doc_id,
         doc_id % 240 + 2 AS nv,
         doc_id % 500 + 2 AS na1,
         doc_id % 7 + 1 AS na2,
         doc_id % 3 IN (0, 1) AS has_v,
         doc_id % 3 IN (0, 2) AS has_a
  FROM documents
),
mp4d AS (
  SELECT doc_id, has_v, has_a,
         (nv * 1001 * 1000) // 30000 AS vdur,
         CAST(nv AS BIGINT) AS vn,
         CASE WHEN doc_id % 2 = 0 THEN (500 + doc_id % 100) * nv
              ELSE list_sum(list_transform(range(0, nv),
                            i -> 100 + (doc_id + i) % 9))
         END AS vbytes,
         ((na1 * 1024 + na2 * 960) * 1000) // 48000 AS adur,
         CAST(na1 + na2 AS BIGINT) AS an,
         (200 + doc_id % 50) * (na1 + na2) AS abytes
  FROM mp4sp
)"""

_MP4_STATS_SQL = f"""
WITH {_MP4_FIXTURE_CTES.strip()}
SELECT doc_id,
       'isom' AS major_brand,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1000 ELSE 48000 END
            AS BIGINT) AS timescale,
       CAST((doc_id % 300 + 1) * 1000 AS BIGINT) AS duration_ms,
       CAST(CASE doc_id % 3 WHEN 0 THEN 2 ELSE 1 END AS INTEGER)
         AS n_traks,
       CASE doc_id % 3 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hvc1'
            ELSE NULL END AS video_codec,
       CASE doc_id % 3 WHEN 0 THEN 'mp4a' WHEN 2 THEN 'Opus'
            ELSE NULL END AS audio_codec,
       CAST(CASE WHEN has_v THEN vdur END AS BIGINT)
         AS video_duration_ms,
       CAST(CASE WHEN has_v THEN vn END AS BIGINT) AS video_n_samples,
       CAST(CASE WHEN has_v THEN vbytes END AS BIGINT) AS video_bytes,
       CAST(CASE WHEN has_v THEN (vbytes * 8000) // vdur END AS BIGINT)
         AS video_bitrate_bps,
       CAST(CASE WHEN has_v THEN 1 + doc_id % 5 END AS BIGINT)
         AS video_n_chunks,
       CAST(CASE WHEN has_a THEN adur END AS BIGINT)
         AS audio_duration_ms,
       CAST(CASE WHEN has_a THEN an END AS BIGINT) AS audio_n_samples,
       CAST(CASE WHEN has_a THEN abytes END AS BIGINT) AS audio_bytes,
       CAST(CASE WHEN has_a THEN (abytes * 8000) // adur END AS BIGINT)
         AS audio_bitrate_bps,
       CAST(CASE WHEN has_a THEN 2 END AS BIGINT) AS audio_n_chunks
FROM mp4d
"""


def _ogg_fixture_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ogg_audio_stats fixture corpus (shared with the datasheet
    media row — ONE rendering of the arithmetic)."""
    import pandas as pd

    from ..functions.ogg import build_ogg

    def pack(batches):
        for pdf in batches:
            def doc(doc_id: int) -> bytes:
                m = 1 + doc_id % 3
                big = 300 if doc_id % 4 == 0 else 0
                bodies = [b"x" * (50 + (doc_id + j) % 37 + big)
                          for j in range(m)]
                codec = "vorbis" if doc_id % 2 == 0 else "opus"
                return build_ogg(codec, 1 + doc_id % 2,
                                 48000 if doc_id % 2 else 44100, bodies)

            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "content": pdf["doc_id"].map(doc),
            })

    return _docs(spark, sf_dir).select("doc_id").mapInPandas(
        pack, "doc_id long, content binary")


def _q_ogg_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGG page walk (functions/ogg.py — RFC 3533 layout, page CRCs
    verified with the spec's unreflected 0x04C11DB7 CRC): per doc,
    build a vorbis/opus stream (codec on doc_id %% 2) with
    1 + doc_id %% 3 audio pages of arithmetic sizes, then walk it.
    One body per fourth doc exceeds 255 bytes so the multi-segment
    lacing path fires at every SF.  The oracle reproduces pages,
    granules, and byte totals from the same arithmetic."""
    from ..functions.ogg import ogg_container_stats

    return ogg_container_stats(_ogg_fixture_media(spark, sf_dir))


# Shared ogg-fixture arithmetic (ogg_audio_stats row + the datasheet
# media row — ONE rendering in both engines).
_OGG_FIXTURE_CTES = """
oggm AS (
  SELECT doc_id, 1 + doc_id % 3 AS np,
         CASE WHEN doc_id % 4 = 0 THEN 300 ELSE 0 END AS big,
         CASE WHEN doc_id % 2 = 0 THEN 23 ELSE 19 END AS ident_len
  FROM documents
),
oggb AS (
  SELECT m.doc_id,
         sum(50 + (m.doc_id + t.j) % 37 + m.big) AS body_sum
  FROM oggm m, range(3) t(j) WHERE t.j < m.np GROUP BY 1
)"""

_OGG_AUDIO_SQL = f"""
WITH {_OGG_FIXTURE_CTES.strip()},
m AS (SELECT * FROM oggm), b AS (SELECT * FROM oggb)
SELECT m.doc_id,
       CAST(1 + m.np AS INTEGER) AS n_pages,
       CAST(1 AS INTEGER) AS n_streams,
       CASE WHEN m.doc_id % 2 = 0 THEN 'vorbis' ELSE 'opus' END AS codec,
       CAST(1 + m.doc_id % 2 AS INTEGER) AS channels,
       CAST(CASE WHEN m.doc_id % 2 = 0 THEN 44100 ELSE 48000 END
            AS INTEGER) AS sample_rate,
       CAST(960 * m.np AS BIGINT) AS last_granule,
       CAST(m.ident_len + b.body_sum AS BIGINT) AS body_bytes
FROM m JOIN b USING (doc_id)
"""


def _q_cdx_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDXJ index lines (functions/urls.py:surt_key + cdx_parse — the
    web-archive companion to the warc.gz front door): per doc, build a
    messy capture URL (uppercase host, www, tracking param, unsorted
    query), derive its SURT urlkey ON THE SPARK SIDE via surt_key
    (canonicalize -> www-strip -> label-reverse -> lowercased tail),
    format the 'urlkey ts {json}' line, and parse it back through
    cdx_parse.  The oracle reproduces every parsed column from doc_id
    arithmetic — a canonicalization, SURT, or parse regression
    hash-mismatches."""
    from ..functions.urls import cdx_parse, surt_key

    docs = _docs(spark, sf_dir).select("doc_id")
    url = F.concat(
        F.lit("https://www.Site-"), (F.col("doc_id") % 17).cast("string"),
        F.lit(".example.com/Page/"), F.col("doc_id").cast("string"),
        F.lit("?b=2&a=1&utm_x=9"))
    status = (F.when(F.col("doc_id") % 3 == 1, 301)
              .when(F.col("doc_id") % 3 == 2, 404).otherwise(200))
    line = F.format_string(
        '%s %d {"url":"%s","status":"%d","mime":"text/html",'
        '"length":"%d","offset":"%d","filename":"crawl-%05d.warc.gz"}',
        surt_key(url), F.lit(20250000000000) + F.col("doc_id"), url,
        status, F.col("doc_id") % 997 + 1000,
        (F.col("doc_id") % 100) * 1731, F.col("doc_id") % 5)
    return cdx_parse(docs.select("doc_id", line.alias("line")))


_CDX_PARSE_SQL = """
SELECT doc_id,
       'com,example,site-' || CAST(doc_id % 17 AS VARCHAR)
         || ')/page/' || CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS urlkey,
       CAST(20250000000000 + doc_id AS BIGINT) AS ts,
       'https://www.Site-' || CAST(doc_id % 17 AS VARCHAR)
         || '.example.com/Page/' || CAST(doc_id AS VARCHAR)
         || '?b=2&a=1&utm_x=9' AS url,
       CAST(CASE doc_id % 3 WHEN 1 THEN 301 WHEN 2 THEN 404
            ELSE 200 END AS INTEGER) AS status,
       'text/html' AS mime,
       CAST(doc_id % 997 + 1000 AS BIGINT) AS length,
       CAST((doc_id % 100) * 1731 AS BIGINT) AS offset,
       'crawl-' || lpad(CAST(doc_id % 5 AS VARCHAR), 5, '0')
         || '.warc.gz' AS filename
FROM documents
"""


def _q_png_palette_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED palette-PNG decode (round 13 —
    functions/multimodal.py:png_palette_stats): PLTE mapping, MSB-first
    sub-byte unpack across depths 1/2/4/8, chunk CRC verification."""
    from ..functions.multimodal import png_palette_stats

    return png_palette_stats(_docs(spark, sf_dir))


_PNG_PALETTE_SQL = """
WITH px AS (
  SELECT d.doc_id, d.doc_id % 24 AS k,
         CASE d.doc_id % 24 % 4 WHEN 0 THEN 2 WHEN 1 THEN 4
              WHEN 2 THEN 16 ELSE 200 END AS n,
         x.x, y.y
  FROM documents d,
       (SELECT unnest(generate_series(0, 7)) AS x) x,
       (SELECT unnest(generate_series(0, 5)) AS y) y
),
m AS (SELECT doc_id, k, n, (k + x + 2 * y) % n AS i FROM px),
s AS (
  SELECT doc_id, k, n,
         sum((7 * k + 13 * i) % 256) AS sr,
         sum((3 * k + 5 * i) % 256) AS sg,
         sum((11 * k + i) % 256) AS sb
  FROM m GROUP BY 1, 2, 3
)
SELECT doc_id,
       CAST(8 AS INTEGER) AS width, CAST(6 AS INTEGER) AS height,
       CAST(n AS INTEGER) AS n_colors,
       CAST(CASE n WHEN 2 THEN 1 WHEN 4 THEN 2 WHEN 16 THEN 4
            ELSE 8 END AS INTEGER) AS bit_depth,
       CAST(sr AS BIGINT) AS sum_r,
       CAST(sg AS BIGINT) AS sum_g,
       CAST(sb AS BIGINT) AS sum_b
FROM s
"""


def _q_host_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl-quality profile (functions/crawl.py:
    host_reputation): hosts synthesized from doc_id %% 11, duplicate
    rate from content fingerprints, mean quality integer-scaled, and
    the reputation combination — all integer arithmetic after the
    shared round(.,6) quality expression, so the row hash-matches."""
    from ..functions.crawl import host_reputation

    docs = _docs(spark, sf_dir)
    host = F.concat(F.lit("rep-"), (F.col("doc_id") % 11).cast("string"),
                    F.lit(".example.com"))
    return host_reputation(docs.select(host.alias("host"), "text"))


# the dedup-normal-form fingerprint projection appended to the quality
# m CTE — ONE rendering shared by every reputation-embedding oracle
_FP_EXTRA = (",\n         md5(lower(regexp_replace(trim(text), "
             r"'\s+', ' ', 'g'))) AS fp")


def _rep_per_cte(host_sql: str) -> str:
    """The per-doc (host, fp, scaled-quality) CTE of the reputation
    family — ONE definition so the quality scaling can never diverge
    between the host_reputation and frontier_rank oracles."""
    return f"""per AS (
  SELECT {host_sql} AS host,
         fp,
         CAST(floor({_QUALITY_EXPR} * 1000000 + 0.5) AS BIGINT) AS q
  FROM m
)"""


def _rep_ppm_expr(n: str, nu: str, sq: str) -> str:
    """reputation_ppm = mean quality discounted by the duplicate rate —
    the single SQL rendering of host_reputation's integer algebra."""
    return (f"CAST((({sq}) // ({n})) * (1000000 - ((({n}) - ({nu})) "
            f"* 1000000) // ({n})) // 1000000 AS BIGINT)")


def _host_reputation_sql() -> str:
    return rf"""
WITH {_WORDS_CTE},
{_quality_m_cte(extra=_FP_EXTRA)},
{_rep_per_cte("'rep-' || CAST(doc_id % 11 AS VARCHAR) || '.example.com'")},
agg AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
         sum(q) AS sq
  FROM per GROUP BY 1
)
SELECT host, n_docs, n_unique,
       CAST(((n_docs - n_unique) * 1000000) // n_docs AS BIGINT)
         AS dup_rate_ppm,
       CAST(sq // n_docs AS BIGINT) AS mean_quality_ppm,
       {_rep_ppm_expr("n_docs", "n_unique", "sq")} AS reputation_ppm
FROM agg
"""


# --- Sitemap parsing + frontier seeding ----------------------------------------

def _q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap XML parsing (functions/crawl.py:parse_sitemap) over
    per-doc synthesized files: a urlset entry with full metadata, one
    with defaults only (priority 0.5, NULL lastmod/changefreq), a
    junk-priority entry (try_cast fallback), and — for every third doc
    — a sitemapindex entry (kind 'sitemap').  Zero-shuffle regexp
    parse, the warc_parse posture."""
    from ..functions.crawl import parse_sitemap

    docs = _docs(spark, sf_dir)
    return parse_sitemap(docs.select("doc_id",
                                     _sitemap_xml_expr().alias("xml")))


def _sitemap_xml_expr():
    """ONE rendering of the synthesized sitemap file — shared by the
    plain row and the gzipped row (round 13)."""
    dom = (F.col("doc_id") % 9).cast("string")
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.lit('<?xml version="1.0"?><urlset>'
              "<url><loc> https://sm-"), dom,
        F.lit(".example.com/p/"), did,
        F.lit(" </loc><lastmod>2026-0"),
        (F.col("doc_id") % 9 + 1).cast("string"),
        F.lit("-01</lastmod><changefreq>daily</changefreq><priority>0."),
        dom,
        F.lit("</priority></url><url><loc>https://sm-"), dom,
        F.lit(".example.com/q/"), did, F.lit("?utm_source=x</loc></url>"),
        F.when(F.col("doc_id") % 4 == 0,
               F.lit("<url><loc>https://sm-x.example.com/bad</loc>"
                     "<priority>high</priority></url>"))
        .otherwise(F.lit("")),
        F.lit("</urlset>"),
        F.when(F.col("doc_id") % 3 == 0, F.concat(
            F.lit("<sitemapindex><sitemap><loc>https://sm-"), dom,
            F.lit(".example.com/sitemap-"), did,
            F.lit(".xml</loc></sitemap></sitemapindex>")))
        .otherwise(F.lit("")),
    )


def _q_sitemap_gz_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzipped sitemap ingestion (functions/crawl.py:sitemap_gz_parse
    — the protocol's recommended delivery shape): the IDENTICAL
    synthesized sitemap, gzip-compressed per doc (every fifth doc as
    TWO gzip members — concatenated gzip is legal and real servers
    emit it), peeled by the shared bounded gunzip and parsed by the
    one parse_sitemap rendering.  The oracle is the plain row's SQL
    plus the member count — textbook strict subsumption for a future
    rotation."""
    import gzip

    import pandas as pd

    from ..functions.crawl import sitemap_gz_parse

    xml_df = _docs(spark, sf_dir).select(
        "doc_id", _sitemap_xml_expr().alias("xml"))

    def pack(batches):
        for pdf in batches:
            def gz(row) -> bytes:
                data = row["xml"].encode("utf-8")
                if row["doc_id"] % 5 == 0:
                    half = len(data) // 2
                    return (gzip.compress(data[:half])
                            + gzip.compress(data[half:]))
                return gzip.compress(data)

            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "content": pdf.apply(gz, axis=1),
            })

    media = xml_df.mapInPandas(pack, "doc_id long, content binary")
    return sitemap_gz_parse(media)


def _sitemap_parse_sql() -> str:
    from ..functions.crawl import (SITEMAP_INDEX_BLOCK_RE,
                                   SITEMAP_URL_BLOCK_RE, _CHANGEFREQ_RE,
                                   _LASTMOD_RE, _LOC_RE, _PRIORITY_RE)

    return rf"""
WITH x AS (
  SELECT doc_id,
         '<?xml version="1.0"?><urlset><url><loc> https://sm-' ||
         CAST(doc_id % 9 AS VARCHAR) || '.example.com/p/' ||
         CAST(doc_id AS VARCHAR) || ' </loc><lastmod>2026-0' ||
         CAST(doc_id % 9 + 1 AS VARCHAR) ||
         '-01</lastmod><changefreq>daily</changefreq><priority>0.' ||
         CAST(doc_id % 9 AS VARCHAR) ||
         '</priority></url><url><loc>https://sm-' ||
         CAST(doc_id % 9 AS VARCHAR) || '.example.com/q/' ||
         CAST(doc_id AS VARCHAR) || '?utm_source=x</loc></url>' ||
         CASE WHEN doc_id % 4 = 0
              THEN '<url><loc>https://sm-x.example.com/bad</loc>' ||
                   '<priority>high</priority></url>'
              ELSE '' END ||
         '</urlset>' ||
         CASE WHEN doc_id % 3 = 0
              THEN '<sitemapindex><sitemap><loc>https://sm-' ||
                   CAST(doc_id % 9 AS VARCHAR) || '.example.com/sitemap-'
                   || CAST(doc_id AS VARCHAR) ||
                   '.xml</loc></sitemap></sitemapindex>'
              ELSE '' END AS xml
  FROM documents
),
ub AS (SELECT doc_id,
              unnest(regexp_extract_all(xml, '{SITEMAP_URL_BLOCK_RE}', 1))
                AS b
       FROM x),
sb AS (SELECT doc_id,
              unnest(regexp_extract_all(xml, '{SITEMAP_INDEX_BLOCK_RE}',
                                        1)) AS b
       FROM x),
u AS (
  SELECT doc_id, 'url' AS kind,
         regexp_extract(b, '{_LOC_RE}', 1) AS loc,
         nullif(regexp_extract(b, '{_LASTMOD_RE}', 1), '') AS lastmod,
         nullif(regexp_extract(b, '{_CHANGEFREQ_RE}', 1), '')
           AS changefreq,
         COALESCE(TRY_CAST(regexp_extract(b, '{_PRIORITY_RE}', 1)
                           AS DOUBLE), 0.5) AS priority
  FROM ub
),
s AS (
  SELECT doc_id, 'sitemap' AS kind,
         regexp_extract(b, '{_LOC_RE}', 1) AS loc,
         CAST(NULL AS VARCHAR) AS lastmod,
         CAST(NULL AS VARCHAR) AS changefreq,
         CAST(NULL AS DOUBLE) AS priority
  FROM sb
)
SELECT * FROM u WHERE loc <> ''
UNION ALL
SELECT * FROM s WHERE loc <> ''
"""


# the seed-domain scheme of the sitemap composition rows — ONE Spark
# rendering and ONE SQL rendering, shared by the fixture, the
# frontier_rank host mapping, and both oracles' CTEs: a drift between
# any two of them would degrade the inner joins to empty-but-green rows
def _seed_host_col():
    return F.concat(F.lit("seed-"), (F.col("doc_id") % 11).cast("string"),
                    F.lit(".example.com"))


_SEED_HOST_SQL = "'seed-' || CAST(doc_id % 11 AS VARCHAR) || '.example.com'"


def _seed_sitemap_fixture(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The shared seed-domain fixture of the sitemap composition rows:
    per-domain sitemap XML (one urlset entry per doc, deterministic
    priorities, /private/ paths for doc_id %% 3 == 1) and the robots.txt
    bodies advertising them — returns (xmls, robots)."""
    domain = _seed_host_col()
    path = F.when(F.col("doc_id") % 3 == 1,
                  F.concat(F.lit("/private/"),
                           F.col("doc_id").cast("string")))\
        .otherwise(F.concat(F.lit("/p/"), F.col("doc_id").cast("string")))
    entry = F.concat(F.lit("<url><loc>https://"), domain, path,
                     F.lit("</loc><priority>0."),
                     (F.col("doc_id") % 9).cast("string"),
                     F.lit("</priority></url>"))
    xmls = (docs.select(domain.alias("domain"), F.col("doc_id"),
                        entry.alias("e"))
            .groupBy("domain")
            .agg(F.concat(
                F.lit("<urlset>"),
                F.array_join(F.array_sort(F.collect_list(
                    F.struct("doc_id", "e"))).getField("e"), ""),
                F.lit("</urlset>")).alias("xml")))
    robots = xmls.select(
        "domain",
        F.concat(F.lit("User-agent: *\nDisallow: /private/\nSitemap: "
                       "https://"), F.col("domain"),
                 F.lit("/sitemap.xml\n")).alias("robots_txt"))
    return xmls, robots


def _q_sitemap_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier seeding composition: each domain's robots.txt
    advertises its sitemap (functions/robots.py:robots_sitemaps — the
    GLOBAL, group-independent half of the file) and disallows
    /private/; the per-domain sitemap XML (one urlset entry per doc of
    that domain, deterministic priorities) parses into candidate locs
    (parse_sitemap) which then walk the longest-match robots gate
    (robots_allowed) — seeds the crawler may actually fetch, with
    their priorities.  Exchanges: ONE domain-keyed agg to build the
    per-domain XML (fixture-side), zero-shuffle parse, one loc-keyed
    gate aggregate over broadcast rules."""
    from ..functions.crawl import parse_sitemap
    from ..functions.robots import (robots_allowed, robots_rules,
                                    robots_sitemaps)

    docs = _docs(spark, sf_dir)
    xmls, robots = _seed_sitemap_fixture(docs)
    advertised = robots_sitemaps(robots)
    entries = parse_sitemap(xmls, id_col="domain").where(
        F.col("kind") == "url")
    gated = robots_allowed(
        entries.select(F.col("loc"), F.col("domain"),
                       F.col("loc").alias("url")),
        robots_rules(robots), id_col="loc")
    return (
        entries.select("domain", "loc", "priority")
        .join(gated, "loc")
        .join(advertised.groupBy("domain").agg(
            F.count(F.lit(1)).cast("long").alias("n_sitemaps")),
            "domain")
        .select("domain", F.col("loc").alias("url"), "priority",
                "allowed", "match_len", "n_sitemaps")
    )


def _seed_frontier_ctes() -> str:
    """Shared seed-domain CTE block (e / xmls / ent / p / agg — the
    fixture plus the single-rule robots gate) — ONE definition for the
    sitemap_frontier and frontier_rank oracles, mirroring
    :func:`_seed_sitemap_fixture` on the Spark side."""
    from ..functions.crawl import SITEMAP_URL_BLOCK_RE, _LOC_RE, _PRIORITY_RE

    return rf"""e AS (
  SELECT {_SEED_HOST_SQL} AS domain,
         doc_id,
         '<url><loc>https://' || {_SEED_HOST_SQL} ||
         CASE WHEN doc_id % 3 = 1
              THEN '/private/' || CAST(doc_id AS VARCHAR)
              ELSE '/p/' || CAST(doc_id AS VARCHAR) END ||
         '</loc><priority>0.' || CAST(doc_id % 9 AS VARCHAR) ||
         '</priority></url>' AS entry
  FROM documents
),
xmls AS (
  SELECT domain,
         '<urlset>' || string_agg(entry, '' ORDER BY doc_id) ||
         '</urlset>' AS xml
  FROM e GROUP BY domain
),
ent AS (
  SELECT domain,
         regexp_extract(b, '{_LOC_RE}', 1) AS loc,
         COALESCE(TRY_CAST(regexp_extract(b, '{_PRIORITY_RE}', 1)
                           AS DOUBLE), 0.5) AS priority
  FROM (SELECT domain,
               unnest(regexp_extract_all(xml, '{SITEMAP_URL_BLOCK_RE}',
                                         1)) AS b
        FROM xmls)
  WHERE regexp_extract(b, '{_LOC_RE}', 1) <> ''
),
-- the gate: single '*' group, one Disallow: /private/ rule
p AS (
  SELECT domain, loc, priority,
         regexp_extract(loc,
           '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS p0
  FROM ent
),
agg AS (
  SELECT domain, loc, priority,
         CASE WHEN (CASE WHEN p0 = '' THEN '/' ELSE p0 END)
                   LIKE '/private/%' ESCAPE '!'
              THEN 9 * 2 + 0 END AS pk
  FROM p
)"""


def _sitemap_frontier_sql() -> str:
    return rf"""
WITH {_seed_frontier_ctes()},
robots AS (
  SELECT domain,
         'User-agent: *' || chr(10) || 'Disallow: /private/' || chr(10)
         || 'Sitemap: https://' || domain || '/sitemap.xml' || chr(10)
           AS body
  FROM xmls
),
adv AS (
  SELECT domain, CAST(count(*) AS BIGINT) AS n_sitemaps
  FROM (SELECT domain,
               unnest(regexp_extract_all(body,
                 '(?im)^[ \t]*sitemap[ \t]*:[ \t]*([^#\r\n]*)', 1)) AS sm
        FROM robots)
  WHERE trim(sm) <> '' GROUP BY domain
)
SELECT domain, loc AS url, priority,
       CAST(CASE WHEN pk IS NULL OR pk % 2 = 1 THEN 1 ELSE 0 END
            AS INTEGER) AS allowed,
       CAST(COALESCE(pk // 2, 0) AS INTEGER) AS match_len,
       n_sitemaps
FROM agg JOIN adv USING (domain)
"""


def _q_frontier_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reputation-weighted frontier ordering — the seed scheduler's
    read side, composing two audited stages over the SAME seed-domain
    universe: the robots-gated sitemap seeds (priorities) and the
    per-host reputation profile (functions/crawl.py:host_reputation).
    Each allowed seed gets its within-host rank (priority-descending,
    URL tiebreak — the order a polite crawler dequeues one host) and an
    integer cross-host score ``reputation_ppm * round(priority*10) div
    10``.

    Scale shape: the within-host rank is NOT a per-domain window — a
    mega-host (10^8 seeds on one origin) must never become one window
    partition sorted on a single task (the crawl_schedule lesson).  It
    composes the scale-safe ranged row_number instead: a global ranged
    row_number over (domain, -priority, url) minus each domain's
    exclusive prefix count over domain order (= min(_gseq) - 1 per
    domain, one tiny aggregate) — identical output to
    ``row_number() OVER (PARTITION BY domain ORDER BY priority DESC,
    url)``, which is exactly what the oracle runs."""
    from ..functions.crawl import host_reputation, parse_sitemap
    from ..functions.robots import robots_allowed, robots_rules
    from ..operators.sequences import ranged_row_number

    docs = _docs(spark, sf_dir)
    xmls, robots = _seed_sitemap_fixture(docs)
    entries = parse_sitemap(xmls, id_col="domain").where(
        F.col("kind") == "url")
    gated = robots_allowed(
        entries.select(F.col("loc"), F.col("domain"),
                       F.col("loc").alias("url")),
        robots_rules(robots), id_col="loc")
    # pinned: repartitionByRange's boundary sampling would otherwise
    # re-execute the whole parse+gate subtree a second time
    seeds = pin(entries.select("domain", "loc", "priority")
                .join(gated.where(F.col("allowed") == 1), "loc")
                .withColumn("_negp", -F.col("priority")))
    ranked = ranged_row_number(seeds, ["domain", "_negp", "loc"],
                               out_col="_gseq")
    # each domain's exclusive prefix count over domain order IS
    # min(_gseq) - 1 (the global sequence is contiguous over
    # (domain, ...) order) — one tiny domain-keyed aggregate off the
    # ranked frame instead of a second ranged_prefix_sum machinery
    # (round-15 opt; same rewrite as ccnet_buckets)
    offs = ranked.groupBy("domain").agg(
        (F.min("_gseq") - 1).cast("long").alias("_doff"))
    rep = host_reputation(docs.select(_seed_host_col().alias("host"),
                                      "text"))
    return (
        ranked.join(offs, "domain")
        .join(rep, ranked.domain == rep.host)
        .select(
            "domain", F.col("loc").alias("url"), "priority",
            (F.col("_gseq") - F.col("_doff")).cast("long")
            .alias("seed_rank"),
            "reputation_ppm",
            F.expr("(reputation_ppm * cast(round(priority * 10, 0) "
                   "as int)) div 10").cast("long").alias("score_ppm"),
        )
    )


def _frontier_rank_sql() -> str:
    return rf"""
WITH {_WORDS_CTE},
{_quality_m_cte(extra=_FP_EXTRA)},
{_seed_frontier_ctes()},
{_rep_per_cte(_SEED_HOST_SQL)},
rep AS (
  SELECT host,
         {_rep_ppm_expr("count(*)", "count(DISTINCT fp)", "sum(q)")}
           AS reputation_ppm
  FROM per GROUP BY 1
)
SELECT domain, loc AS url, priority,
       CAST(row_number() OVER (PARTITION BY domain
                               ORDER BY priority DESC, loc)
            AS BIGINT) AS seed_rank,
       reputation_ppm,
       CAST((reputation_ppm * CAST(round(priority * 10, 0) AS INTEGER))
            // 10 AS BIGINT) AS score_ppm
FROM agg JOIN rep ON agg.domain = rep.host
WHERE pk IS NULL OR pk % 2 = 1
"""


# --- MP3 header-walk stats ----------------------------------------------------

def _q_mp3_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE MP3-header path (functions/mp3.py via
    multimodal.py:mp3_synth_stats): synthesize a valid MPEG-1 Layer III
    frame train per doc (frame count, VBR alternation, and an ID3v2
    prefix all derived from doc_id) and WALK it back inside one Arrow
    batch.  The oracle reproduces every stat from the same doc_id
    arithmetic without touching MP3 bytes — any sync-scan / ID3-skip /
    frame-length / VBR-fold regression hash-mismatches."""
    from ..functions.multimodal import mp3_synth_stats

    return mp3_synth_stats(_docs(spark, sf_dir))


def _q_webp_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE WebP-header path (functions/multimodal.py:
    webp_synth_dims): synthesize a header-valid WebP per doc — the
    container kind cycles VP8L/VP8/VP8X on doc_id %% 3, dims derive
    from doc_id — and walk it back with image_dims inside one Arrow
    batch.  The oracle reproduces the dims from the same id arithmetic
    without touching WebP bytes, so any regression in the RIFF walk,
    the VP8 sync check, the VP8L bit packing, or the VP8X 24-bit canvas
    arithmetic hash-mismatches."""
    from ..functions.multimodal import webp_synth_dims

    return webp_synth_dims(_docs(spark, sf_dir))


_WEBP_DIMS_SQL = """
SELECT doc_id,
       'webp' AS format,
       CAST(4 + doc_id % 13 AS INTEGER) AS width,
       CAST(3 + doc_id % 7 AS INTEGER) AS height
FROM documents
"""


def _q_avif_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE AVIF-header path (functions/multimodal.py:
    avif_synth_dims): synthesize a header-valid ISO-BMFF box tree per
    doc (ftyp/meta/iprp/ipco/ispe, dims derived from doc_id, every
    third doc carrying a second thumbnail ispe that must NOT win) and
    walk it back with image_dims inside one Arrow batch.  The oracle
    reproduces the dims from the same id arithmetic without touching
    AVIF bytes, so any regression in the box walk (size/largesize,
    FullBox version/flags skips, first-ispe selection)
    hash-mismatches."""
    from ..functions.multimodal import avif_synth_dims

    return avif_synth_dims(_docs(spark, sf_dir))


_AVIF_DIMS_SQL = """
SELECT doc_id,
       'avif' AS format,
       CAST(5 + doc_id % 11 AS INTEGER) AS width,
       CAST(4 + doc_id % 9 AS INTEGER) AS height
FROM documents
"""


# duration: n_frames Layer III MPEG-1 frames of 1152 samples at 44.1 kHz,
# integer-exact on both engines
_MP3_STATS_SQL = """
SELECT doc_id,
       'mp3' AS format,
       CAST(3 + doc_id % 5 AS BIGINT) AS n_frames,
       CAST(44100 AS INTEGER) AS sample_rate,
       CAST((3 + doc_id % 5) * 1152 * 1000 // 44100 AS BIGINT)
         AS duration_ms,
       CAST(128 AS INTEGER) AS min_kbps,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 160 ELSE 128 END AS INTEGER)
         AS max_kbps,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER) AS vbr,
       CAST(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS INTEGER)
         AS truncated
FROM documents
"""


def _href_ctes() -> str:
    """``l``/``u`` CTEs over the ``page`` CTE — the ONE SQL rendering
    of the extract_links contract (raw targets, sorted-distinct set,
    page char length), shared by the extract_links and wat_metadata
    oracles so the fingerprint semantics cannot drift apart."""
    from ..functions.quality import HREF_RE

    return ("""l AS (
  SELECT doc_id, length(html) AS clen,
         regexp_extract_all(html, '""" + HREF_RE.replace("'", "''")
            + """', 1) AS targets
  FROM page
),
u AS (SELECT doc_id, clen, targets,
             list_sort(list_distinct(targets)) AS uniq FROM l)""")


def _q_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction over the synthesized pages (same synthesis as
    html_extract_main) — raw and distinct href targets plus a
    deterministic fingerprint of the sorted target set."""
    from ..functions.html import synthesize_page
    from ..functions.quality import extract_links

    docs = _docs(spark, sf_dir)
    pages = docs.select("doc_id", synthesize_page().alias("html"))
    return extract_links(pages)


def _extract_links_sql() -> str:
    return ("""
WITH """ + _synth_page_cte() + """,
""" + _href_ctes() + """
SELECT doc_id,
       CAST(len(targets) AS BIGINT) AS n_links,
       CAST(len(uniq) AS BIGINT) AS n_unique_targets,
       md5(array_to_string(uniq, chr(10))) AS targets_hash
FROM u
""")


def _q_cap_per_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document caps over deterministic synthesized URLs
    (documents carry no URL column — the synthesis pattern again):
    doc_id hashes onto one of 17 hosts, each domain keeps its 20
    lowest-id docs.  One domain-keyed window shuffle
    (functions/quality.py:cap_per_domain)."""
    from ..functions.quality import cap_per_domain

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("https://site-"),
            (F.col("doc_id") % 17).cast("string"),
            F.lit(".example.com/page/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    return cap_per_domain(docs, max_per_domain=20)


_CAP_DOMAIN_SQL = """
WITH u AS (
  SELECT doc_id,
         'https://site-' || CAST(doc_id % 17 AS VARCHAR) ||
         '.example.com/page/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
d AS (
  SELECT doc_id,
         regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1)
           AS domain
  FROM u
),
r AS (
  SELECT doc_id, domain,
         row_number() OVER (PARTITION BY domain ORDER BY doc_id)
           AS domain_rank
  FROM d
)
SELECT doc_id, domain, domain_rank FROM r WHERE domain_rank <= 20
"""


def _synth_messy_urls(docs: DataFrame) -> DataFrame:
    """Deterministic MESSY URLs over documents (the synthesis convention
    again): docs sharing doc_id % 100 point at the same logical page on
    host (page % 17), spelled five different ways — uppercase scheme/host
    + default port + trailing slash, a utm_ tracking param, a fragment,
    unsorted query params, and tracking noise inside a real query.
    Variants 0-2 collapse to the bare canonical, 3-4 to the sorted-query
    canonical, so url_dedup produces genuine multi-doc groups."""
    page = (F.col("doc_id") % 100).cast("string")
    host = ((F.col("doc_id") % 100) % 17).cast("string")
    # doc_id %% 100 is the page and 100 = 0 (mod 5), so a variant
    # keyed on doc_id %% 5 would give every doc of a page the SAME
    # spelling; keying on (doc_id // 100) %% 5 gives each page all five
    # integer div to match the oracle's doc_id // 100 exactly — float
    # division is double-precision-lossy for ids above 2^53
    v = F.expr("doc_id div 100") % 5
    url = (
        F.when(v == 0, F.concat(
            F.lit("HTTP://Site-"), host, F.lit(".Example.COM:80/page/"),
            page, F.lit("/")))
        .when(v == 1, F.concat(
            F.lit("http://site-"), host, F.lit(".example.com/page/"),
            page, F.lit("?utm_source=feed")))
        .when(v == 2, F.concat(
            F.lit("http://site-"), host, F.lit(".example.com/page/"),
            page, F.lit("#section-2")))
        .when(v == 3, F.concat(
            F.lit("http://site-"), host, F.lit(".example.com/page/"),
            page, F.lit("?b=2&a=1")))
        .otherwise(F.concat(
            F.lit("http://site-"), host, F.lit(".example.com/page/"),
            page, F.lit("?a=1&fbclid=XYZ123&b=2")))
    )
    return docs.select("doc_id", url.alias("url"))


def _q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/urls.py): zero-shuffle row
    codegen — scheme/host lowercase, default-port/fragment/trailing-slash
    strip, tracking-param removal, query-param sort.  The DuckDB oracle
    runs the identical regex pipeline, so parity covers synthesis AND
    every canonicalization rule."""
    from ..functions.urls import url_canonicalize

    return url_canonicalize(_synth_messy_urls(_docs(spark, sf_dir)))


def _q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level keep-first dedup on the canonical key — the crawl stage
    BEFORE content dedup.  ONE exchange; count+min combines map-side."""
    from ..functions.urls import url_dedup

    return url_dedup(_synth_messy_urls(_docs(spark, sf_dir)))


def _url_synth_canon_ctes() -> str:
    """``urls`` + ``canon`` CTEs shared by both URL-oracle SQLs —
    replicates _synth_messy_urls and functions/urls.canonicalize_url
    with the IDENTICAL regex constants."""
    from ..functions.urls import (FRAGMENT_RE, HOSTPORT_RE, QUERY_RE,
                                  REST_RE, SCHEME_RE, TRACKING_PARAM_RE,
                                  TRAILING_SLASH_RE)

    return f"""urls AS (
  SELECT doc_id,
         CASE CAST((doc_id // 100) % 5 AS INTEGER)
           WHEN 0 THEN 'HTTP://Site-' || h || '.Example.COM:80/page/' ||
                       p || '/'
           WHEN 1 THEN 'http://site-' || h || '.example.com/page/' || p ||
                       '?utm_source=feed'
           WHEN 2 THEN 'http://site-' || h || '.example.com/page/' || p ||
                       '#section-2'
           WHEN 3 THEN 'http://site-' || h || '.example.com/page/' || p ||
                       '?b=2&a=1'
           ELSE 'http://site-' || h || '.example.com/page/' || p ||
                '?a=1&fbclid=XYZ123&b=2'
         END AS url
  FROM (SELECT doc_id, CAST(doc_id % 100 % 17 AS VARCHAR) AS h,
               CAST(doc_id % 100 AS VARCHAR) AS p FROM documents)
),
parts AS (
  SELECT doc_id, url,
         regexp_replace(url, '{FRAGMENT_RE}', '') AS nofrag
  FROM urls
),
parts2 AS (
  SELECT doc_id, url, nofrag,
         lower(regexp_extract(nofrag, '{SCHEME_RE}', 1)) AS scheme,
         lower(regexp_extract(nofrag, '{HOSTPORT_RE}', 1)) AS hostport
  FROM parts
),
parts3 AS (
  SELECT doc_id, url, scheme,
         CASE WHEN scheme = 'http'
                THEN regexp_replace(hostport, ':80$', '')
              WHEN scheme = 'https'
                THEN regexp_replace(hostport, ':443$', '')
              ELSE hostport END AS host,
         CASE WHEN scheme <> ''
                THEN regexp_extract(nofrag, '{REST_RE}', 1)
              ELSE nofrag END AS rest
  FROM parts2
),
parts4 AS (
  SELECT doc_id, url, scheme, host,
         regexp_replace(regexp_replace(rest, '{QUERY_RE}', ''),
                        '{TRAILING_SLASH_RE}', '') AS path,
         array_to_string(
           list_sort(list_filter(
             string_split(regexp_extract(rest, '\\?([^#]*)', 1), '&'),
             x -> x <> '' AND NOT regexp_matches(x,
                                                 '{TRACKING_PARAM_RE}'))),
           '&') AS q2
  FROM parts3
),
canon AS (
  SELECT doc_id, url,
         CASE WHEN scheme <> '' THEN scheme || '://' || host ELSE '' END
         || path
         || CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END
           AS canonical_url
  FROM parts4
)"""


def _url_canonicalize_sql() -> str:
    return ("WITH " + _url_synth_canon_ctes()
            + "\nSELECT doc_id, url, canonical_url FROM canon\n")


def _url_dedup_sql() -> str:
    return ("WITH " + _url_synth_canon_ctes() + """
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
FROM canon GROUP BY 1
""")


def _q_dedup_against_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup (functions/dedup.py:
    dedup_against): the PRIOR snapshot is the documents corpus reduced to
    its persisted profile (fingerprint + MinHash signature — text never
    read again); the NEW snapshot is a synthesized re-crawl where every
    10th doc is an exact copy, the next a near copy (appended tail), and
    the rest fresh short content.  Each new doc is classified
    exact_known / near_known / fresh.  The DuckDB oracle rebuilds both
    snapshots and both signature pipelines with identical arithmetic."""
    from ..functions.dedup import dedup_against, snapshot_profile

    docs = _docs(spark, sf_dir)
    # pinned: the profile is referenced twice (fingerprint set + prior
    # signatures) and in production it is a READ table — the pin stands
    # in for that persisted artifact
    prior = pin(snapshot_profile(docs))
    mode = F.col("doc_id") % 10
    new_text = (
        F.when(mode == 0, F.col("text"))
        .when(mode == 1, F.concat(F.col("text"),
                                  F.lit(" freshly appended tail")))
        .otherwise(F.md5(F.col("text")))
    )
    new_snapshot = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        new_text.alias("text"),
    )
    return dedup_against(new_snapshot, prior, threshold=0.5)


def _profile_match_ctes(prior_src: str, new_src: str) -> str:
    """CTE block classifying ``new_src`` docs against ``prior_src``'s
    fingerprint+MinHash profile — the SQL twin of
    functions/dedup.py:dedup_against, parameterized over both snapshot
    sources so the standalone row and the crawl_admission capstone share
    one generator.  Exposes CTEs ``ex`` (exact-known doc_ids) and
    ``near`` (near-known doc_ids)."""
    from ..functions import dedup

    nh, nb = dedup.NUM_HASHES, dedup.BANDS
    rows = nh // nb
    k = -(-nh // 2)
    norm = r"lower(regexp_replace(trim(text), '\s+', ' ', 'g'))"
    mins = ", ".join(
        f"min(substr(md5(shingle), {j * 4 + 1}, 4)) AS h{j}"
        for j in range(nh))

    def wsh(src: str) -> str:
        return f"""(
  SELECT doc_id, unnest(list_transform(
           generate_series(1, greatest(len(ws) - 2, 0)),
           i -> array_to_string(ws[i:i+2], ' '))) AS shingle
  FROM (SELECT doc_id, string_split({norm}, ' ') AS ws FROM {src})
)"""

    def bands(sig: str, idc: str) -> str:
        selects = []
        for b in range(nb):
            cols = " || '|' || ".join(
                f"h{b * rows + r}" for r in range(rows))
            selects.append(
                f"SELECT {idc}, {b} AS band, md5({cols}) AS bucket"
                f" FROM {sig}")
        return "(" + "\nUNION ALL\n".join(selects) + ")"

    agree = " + ".join(
        f"(CASE WHEN n.h{j} = p.h{j} THEN 1 ELSE 0 END)"
        for j in range(nh))
    return f"""psh AS {wsh(prior_src)},
psig AS (SELECT doc_id AS prior_id, {mins} FROM psh GROUP BY doc_id),
pfp AS (SELECT DISTINCT md5({norm}) AS fingerprint FROM {prior_src}),
nsh AS {wsh(new_src)},
nsig AS (SELECT doc_id, {mins} FROM nsh GROUP BY doc_id),
nfp AS (SELECT doc_id, md5({norm}) AS fingerprint FROM {new_src}),
pbk AS {bands('psig', 'prior_id')},
nbk AS {bands('nsig', 'doc_id')},
cand AS (SELECT DISTINCT doc_id, prior_id
         FROM nbk JOIN pbk USING (band, bucket)),
near AS (SELECT DISTINCT c.doc_id
         FROM cand c JOIN nsig n USING (doc_id)
                     JOIN psig p USING (prior_id)
         WHERE ({agree}) >= {k}),
ex AS (SELECT DISTINCT f.doc_id FROM nfp f JOIN pfp USING (fingerprint))"""


def _q_crawl_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CRAWL-ADMISSION capstone — chains the three round-8 stages a
    crawler runs before content ever reaches the corpus pipeline, in
    priority order: (1) canonical-URL keep-first dedup (losers ->
    'url_duplicate'), (2) robots/noindex compliance ('robots_noindex'),
    (3) cross-snapshot content check against the PRIOR crawl's profile —
    here the doc_id % 3 == 0 third of the corpus, so known content
    genuinely exists ('known_content' covers exact AND near matches) —
    else 'admitted'.  One row per doc with its admission status; every
    stage is the arithmetic its standalone oracled row checks, and the
    composite oracle chains the same CTE generators end to end."""
    from ..functions.crawl import admission_statuses
    from ..functions.dedup import snapshot_profile

    docs = _docs(spark, sf_dir)
    prior = pin(snapshot_profile(docs.where(F.col("doc_id") % 3 == 0)))
    return admission_statuses(docs, _synth_messy_urls(docs),
                              _synth_robots_pages(docs), prior,
                              threshold=0.5)


def _crawl_admission_sql() -> str:
    from ..functions.quality import _NOINDEX_TOK_RE

    return f"""
WITH {_url_synth_canon_ctes()},
keeper AS (SELECT canonical_url, min(doc_id) AS keeper_id
           FROM canon GROUP BY 1),
udup AS (SELECT c.doc_id FROM canon c JOIN keeper k
         ON k.canonical_url = c.canonical_url
         WHERE c.doc_id <> k.keeper_id),
{_robots_ctes()},
rnoidx AS (SELECT doc_id FROM rdir
           WHERE regexp_matches(directives, '{_NOINDEX_TOK_RE}')),
{_profile_match_ctes("(SELECT * FROM documents WHERE doc_id % 3 = 0)",
                     "documents")}
SELECT d.doc_id,
       CASE WHEN u.doc_id IS NOT NULL THEN 'url_duplicate'
            WHEN r.doc_id IS NOT NULL THEN 'robots_noindex'
            WHEN e.doc_id IS NOT NULL OR nr.doc_id IS NOT NULL
              THEN 'known_content'
            ELSE 'admitted' END AS status
FROM documents d
LEFT JOIN udup u ON u.doc_id = d.doc_id
LEFT JOIN rnoidx r ON r.doc_id = d.doc_id
LEFT JOIN ex e ON e.doc_id = d.doc_id
LEFT JOIN near nr ON nr.doc_id = d.doc_id
"""


def _dedup_against_sql() -> str:
    from ..functions import dedup

    nh, nb = dedup.NUM_HASHES, dedup.BANDS
    rows = nh // nb
    k = -(-nh // 2)  # ceil(threshold * num_hashes) at threshold 0.5 = 4
    norm = r"lower(regexp_replace(trim(text), '\s+', ' ', 'g'))"
    mins = ", ".join(
        f"min(substr(md5(shingle), {j * 4 + 1}, 4)) AS h{j}"
        for j in range(nh))

    def wsh(src: str) -> str:
        return f"""(
  SELECT doc_id, unnest(list_transform(
           generate_series(1, greatest(len(ws) - 2, 0)),
           i -> array_to_string(ws[i:i+2], ' '))) AS shingle
  FROM (SELECT doc_id, string_split({norm}, ' ') AS ws FROM {src})
)"""

    def bands(sig: str, idc: str) -> str:
        selects = []
        for b in range(nb):
            cols = " || '|' || ".join(
                f"h{b * rows + r}" for r in range(rows))
            selects.append(
                f"SELECT {idc}, {b} AS band, md5({cols}) AS bucket"
                f" FROM {sig}")
        return "(" + "\nUNION ALL\n".join(selects) + ")"

    agree = " + ".join(
        f"(CASE WHEN n.h{j} = p.h{j} THEN 1 ELSE 0 END)"
        for j in range(nh))
    return f"""
WITH nd AS (
  SELECT doc_id + 1000000 AS doc_id,
         CASE WHEN doc_id % 10 = 0 THEN text
              WHEN doc_id % 10 = 1 THEN text || ' freshly appended tail'
              ELSE md5(text) END AS text
  FROM documents
),
psh AS {wsh('documents')},
psig AS (SELECT doc_id AS prior_id, {mins} FROM psh GROUP BY doc_id),
pfp AS (SELECT DISTINCT md5({norm}) AS fingerprint FROM documents),
nsh AS {wsh('nd')},
nsig AS (SELECT doc_id, {mins} FROM nsh GROUP BY doc_id),
nfp AS (SELECT doc_id, md5({norm}) AS fingerprint FROM nd),
pbk AS {bands('psig', 'prior_id')},
nbk AS {bands('nsig', 'doc_id')},
cand AS (SELECT DISTINCT doc_id, prior_id
         FROM nbk JOIN pbk USING (band, bucket)),
near AS (SELECT DISTINCT c.doc_id
         FROM cand c JOIN nsig n USING (doc_id)
                     JOIN psig p USING (prior_id)
         WHERE ({agree}) >= {k}),
ex AS (SELECT DISTINCT f.doc_id FROM nfp f JOIN pfp USING (fingerprint))
SELECT nd.doc_id,
       CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_known'
            WHEN near.doc_id IS NOT NULL THEN 'near_known'
            ELSE 'fresh' END AS status
FROM nd LEFT JOIN ex ON ex.doc_id = nd.doc_id
        LEFT JOIN near ON near.doc_id = nd.doc_id
"""


def _q_ngram_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy-hitter probe (functions/sketches.py): build
    the fixed-size (4 x 1024) sketch over the corpus bigram stream, then
    estimate the counts of the exact top-50 bigrams next to their true
    counts.  The sketch hashes are md5-hex folds, so the DuckDB oracle
    reproduces every cell and estimate EXACTLY — an approximate operator
    with an exact oracle; the classic estimate >= exact guarantee is
    additionally property-tested over every gram in pytest."""
    from ..functions.sketches import cms_build, cms_estimate
    from ..functions.text import shingles

    stream = shingles(_docs(spark, sf_dir), n=2).select(
        F.col("shingle").alias("item"))
    exact = (
        stream.groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("item"))
        .limit(50)
    )
    est = cms_estimate(cms_build(stream), exact.select("item"))
    return exact.join(est, "item").select(
        F.col("item").alias("shingle"), "exact_count", "cms_estimate")


def _cms_fold_sql(row: int) -> str:
    inner = f"md5('cms{row}:' || shingle)"
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr({inner}, {i + 1}, 1)) - 1)"
        f" * {16 ** (4 - i)}"
        for i in range(5)
    ) + ") % 1024"


def _ngram_cms_sql() -> str:
    unions = "\n  UNION ALL ".join(
        f"SELECT shingle, {j} AS depth, {_cms_fold_sql(j)} AS bucket FROM sh"
        for j in range(4)
    )
    return f"""
WITH {_ngram_cte(2)},
ex AS (SELECT shingle, CAST(count(*) AS BIGINT) AS exact_count
       FROM sh GROUP BY 1 ORDER BY exact_count DESC, shingle LIMIT 50),
b AS (
  {unions}
),
cells AS (SELECT depth, bucket, CAST(count(*) AS BIGINT) AS cnt
          FROM b GROUP BY 1, 2),
pb AS (SELECT DISTINCT shingle, depth, bucket FROM b),
pe AS (
  -- LEFT JOIN + COALESCE mirrors cms_estimate's semantics exactly: a
  -- probe item hashing into an untouched cell estimates 0 (unreachable
  -- for these probes, which come from the sketched stream, but the
  -- generic operator allows arbitrary probe sets)
  SELECT e.shingle, e.exact_count, min(COALESCE(c.cnt, 0)) AS est
  FROM ex e
  JOIN pb ON pb.shingle = e.shingle
  LEFT JOIN cells c ON c.depth = pb.depth AND c.bucket = pb.bucket
  GROUP BY 1, 2
)
SELECT shingle, exact_count, CAST(est AS BIGINT) AS cms_estimate FROM pe
"""


def _q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term -> postings inverted index (functions/text.py:
    inverted_index): df + total tf + an order-canonical postings
    fingerprint per term.  The DuckDB oracle builds the identical
    zero-padded "doc:tf" entries with string_agg ORDER BY."""
    from ..functions.text import inverted_index

    return inverted_index(_docs(spark, sf_dir))


_INVERTED_INDEX_SQL = r"""
WITH w AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                      ' ') AS ws
  FROM documents
),
tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
       FROM tok WHERE length(term) > 0 GROUP BY 1, 2),
e AS (SELECT term, tf,
             lpad(CAST(doc_id AS VARCHAR), 12, '0') || ':' ||
             CAST(tf AS VARCHAR) AS entry
      FROM tf)
SELECT term,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS total_tf,
       md5(string_agg(entry, ',' ORDER BY entry)) AS postings_hash
FROM e GROUP BY term
"""


def _q_ngram_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership probe over the corpus bigram stream
    (functions/sketches.py) — the fixed-size membership companion to
    CMS/HLL: the top-50 grams (all present -> maybe=1, the no-false-
    negative contract hashed at the gate) plus 50 synthetic absent items
    (maybe reflects the deterministic false-positive pattern, identical
    on both engines because the k bit positions are md5 folds)."""
    from ..functions.sketches import bloom_build, bloom_probe
    from ..functions.text import shingles

    stream = shingles(_docs(spark, sf_dir), n=2).select(
        F.col("shingle").alias("item"))
    top = (
        stream.groupBy("item")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("item")).limit(50)
        .select("item", F.lit(1).alias("present"))
    )
    absent = spark.range(50).select(
        F.concat(F.lit("zz-absent-"), F.col("id").cast("string"))
        .alias("item"),
        F.lit(0).alias("present"))
    probes = top.unionByName(absent)
    got = bloom_probe(bloom_build(stream), probes.select("item"))
    return probes.join(got, "item").select(
        "item", F.col("present").cast("int").alias("present"),
        F.col("maybe").cast("int").alias("maybe"))


def _bloom_fold_sql(k: int, m: int) -> str:
    inner = f"md5('bloom{k}:' || item)"
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr({inner}, {i + 1}, 1)) - 1)"
        f" * {16 ** (4 - i)}"
        for i in range(5)
    ) + f") % {m}"


def _ngram_bloom_sql() -> str:
    from ..functions.sketches import BLOOM_K, BLOOM_M

    bit_unions = "\n  UNION ALL ".join(
        f"SELECT {_bloom_fold_sql(k, BLOOM_M)} AS bit FROM st"
        for k in range(BLOOM_K))
    probe_unions = "\n  UNION ALL ".join(
        f"SELECT item, {k} AS hk, {_bloom_fold_sql(k, BLOOM_M)} AS bit"
        " FROM probes"
        for k in range(BLOOM_K))
    return f"""
WITH {_ngram_cte(2)},
st AS (SELECT shingle AS item FROM sh),
top50 AS (SELECT item, 1 AS present
          FROM (SELECT item, count(*) AS c FROM st GROUP BY 1
                ORDER BY c DESC, item LIMIT 50)),
absent AS (SELECT 'zz-absent-' || CAST(i AS VARCHAR) AS item, 0 AS present
           FROM generate_series(0, 49) t(i)),
probes AS (SELECT item FROM top50 UNION ALL SELECT item FROM absent),
pr AS (SELECT * FROM top50 UNION ALL SELECT * FROM absent),
bits AS (SELECT DISTINCT bit FROM (
  {bit_unions}
)),
pb AS (
  {probe_unions}
),
hit AS (
  SELECT pb.item,
         CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END AS s
  FROM pb LEFT JOIN bits b ON b.bit = pb.bit
),
mb AS (SELECT item,
              CASE WHEN count(*) = sum(s) THEN 1 ELSE 0 END AS maybe
       FROM hit GROUP BY 1)
SELECT pr.item, CAST(pr.present AS INTEGER) AS present,
       CAST(mb.maybe AS INTEGER) AS maybe
FROM pr JOIN mb USING (item)
"""


def _q_ngram_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table over the corpus bigram stream
    (functions/sketches.py:hll_registers): md5-fold 48-bit hash, 256
    registers, integer-only output so the DuckDB oracle reproduces the
    sketch exactly (the float estimator is pytest-side by design —
    tests/test_sketches.py checks its accuracy against the exact
    distinct count)."""
    from ..functions.sketches import hll_registers
    from ..functions.text import shingles

    stream = shingles(_docs(spark, sf_dir), n=2).select(
        F.col("shingle").alias("item"))
    return hll_registers(stream)


def _hll_sql() -> str:
    from ..functions.sketches import HLL_B, HLL_HASH_HEX

    wbits = 4 * HLL_HASH_HEX - HLL_B
    fold = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(shingle), {i + 1}, 1))"
        f" - 1) * {16 ** (HLL_HASH_HEX - 1 - i)}"
        for i in range(HLL_HASH_HEX)
    )
    bitlen = "CASE " + " ".join(
        f"WHEN w >= {2 ** k} THEN {k + 1}"
        for k in reversed(range(wbits))
    ) + " ELSE 0 END"
    return f"""
WITH {_ngram_cte(2)},
h AS (SELECT ({fold}) AS hv FROM sh),
rw AS (SELECT CAST(hv % {2 ** HLL_B} AS INTEGER) AS register,
              hv // {2 ** HLL_B} AS w
       FROM h)
SELECT register,
       CAST(max({wbits} - ({bitlen}) + 1) AS INTEGER) AS max_rho
FROM rw GROUP BY register
"""


def _q_web_prep_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WEB-corpus capstone — the front-door composition
    corpus_prep_full starts too late for: synthesized pages -> HTML
    main-content extraction -> C4 sentence cleanup -> Gopher quality
    gate -> exact dedup (keep-first on the cleaned text) -> per-domain
    caps -> per-domain corpus stats.  Every stage is the operator the
    standalone oracled row checks; the composite oracle chains the same
    arithmetic end to end.  Plan shape: the first FOUR stages are
    zero-shuffle row expressions fused into the page scan; the dedup and
    cap windows are the only exchanges (fingerprint-keyed, then
    domain-keyed), and the final stats agg rides the cap exchange.

    Cache-lifecycle note (round-7 verdict): the extraction cache below
    is LOAD-BEARING (3x cold cost without it) and pinned via
    cachepin.pin — the __spark_entry__.queries() wrapper unpins it
    before the next build.  A consumer calling registry() directly
    (bench.py does) must manage the pin itself: call cachepin.unpin_all()
    (or clearCache) between query generations, or the pinned extraction
    frame outlives this query."""
    from pyspark.sql import Window as W

    from ..functions.html import extract_main_content, synthesize_page
    from ..functions.quality import c4_sentence_filter, gopher_quality

    docs = _docs(spark, sf_dir).select(
        "doc_id", _sentencified().alias("text"))
    pages = docs.select("doc_id", synthesize_page().alias("html"))
    # cache = the stage boundary a production pipeline has anyway (the
    # extraction pass lands in the lake before cleanup runs).  Without
    # it, predicate pushdown drags the doc_kept/passes gates into the
    # SCAN as DataFilters and the huge extraction expression tree is
    # re-evaluated once per filter plus once for the projection —
    # measured 3x the cold cost at sf0.1 (9.7 s vs 4.4 s)
    ex = pin(extract_main_content(pages).select("doc_id", "main_text"))
    c4 = (
        c4_sentence_filter(ex, text_col="main_text")
        .where(F.col("doc_kept") == 1)
        .select("doc_id", "clean_text")
    )
    # keep_cols carries clean_text through the gate so the pipeline stays
    # LINEAR — a join-back here would fork the plan into two branches
    # that each recompute the whole extraction (measured 3x the cold
    # cost at sf0.1)
    kept = (
        gopher_quality(c4, text_col="clean_text",
                       keep_cols=("clean_text",))
        .where(F.col("passes") == 1)
        .select("doc_id", "n_words", "clean_text")
    )
    wdup = W.partitionBy(F.md5("clean_text")).orderBy("doc_id")
    sole = (
        kept.withColumn("_rn", F.row_number().over(wdup))
        .where(F.col("_rn") == 1)
    )
    dom = F.concat(F.lit("site-"), (F.col("doc_id") % 17).cast("string"),
                   F.lit(".example.com"))
    wdom = W.partitionBy("domain").orderBy("doc_id")
    capped = (
        sole.select("doc_id", "n_words", dom.alias("domain"))
        .withColumn("_dr", F.row_number().over(wdom))
        .where(F.col("_dr") <= 20)
    )
    return capped.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
    )


def _web_prep_sql() -> str:
    from ..functions.quality import GOPHER_STOPS

    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPS)
    nrm = "lower(regexp_replace(trim({c}), '" + r"\s+" + "', ' ', 'g'))"
    return (r"""
WITH ex AS (SELECT doc_id, main_text FROM (""" +
            _html_extract_sql(text_expr=_SENT_SQL.format(c="text")) +
            r""")),
c4n AS (SELECT doc_id, """ + nrm.format(c="main_text") + r""" AS t
        FROM ex),
c4m AS (SELECT doc_id, t,
        list_filter(string_split_regex(t, '\. '),
                    x -> length(x) > 0) AS ne
        FROM c4n),
c4k AS (SELECT doc_id, t,
        list_filter(ne, x -> len(string_split(x, ' ')) >= 3) AS kept,
        (NOT (contains(t, 'lorem ipsum') OR contains(t, '{'))) AS cleanok
        FROM c4m),
c4 AS (SELECT doc_id, array_to_string(kept, '. ') AS clean_text
       FROM c4k WHERE cleanok AND len(kept) >= 3),
gw AS (SELECT doc_id, clean_text,
       string_split(""" + nrm.format(c="clean_text") + r""", ' ') AS ws,
       """ + nrm.format(c="clean_text") + r""" AS gt
       FROM c4),
gm AS (SELECT doc_id, clean_text,
       CAST(len(ws) AS BIGINT) AS n_words,
       CAST(COALESCE(list_sum(list_transform(ws, x -> length(x))), 0)
            AS BIGINT) AS tc,
       CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
            AS BIGINT) AS na,
       CAST(len(list_filter(ws, x -> list_contains([""" + stops + r"""],
            x))) AS BIGINT) AS ns,
       CAST((length(gt) - length(replace(gt, '#', ''))) / 1
            + (length(gt) - length(replace(gt, '...', ''))) / 3
            AS BIGINT) AS sym
       FROM gw),
gq AS (SELECT doc_id, clean_text, n_words FROM gm
       WHERE n_words >= 50 AND n_words <= 100000
         AND tc >= 3 * n_words AND tc <= 10 * n_words
         AND 10 * sym <= n_words AND 5 * na >= 4 * n_words AND ns >= 2),
ddp AS (SELECT doc_id, n_words,
        row_number() OVER (PARTITION BY md5(clean_text) ORDER BY doc_id)
          AS rn
        FROM gq),
dom AS (SELECT doc_id, n_words,
        'site-' || CAST(doc_id % 17 AS VARCHAR) || '.example.com'
          AS domain
        FROM ddp WHERE rn = 1),
cp AS (SELECT doc_id, n_words, domain,
       row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS dr
       FROM dom)
SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words
FROM cp WHERE dr <= 20 GROUP BY domain
""")


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length causal-LM sequence packing layout (docs split across
    seq_len boundaries; functions/sampling.py:pack_sequences) — the
    global offset rides the sharded ranged prefix sum, no one-task
    sort."""
    from ..functions.sampling import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=256)


_PACK_SEQUENCES_SQL = r"""
WITH counted AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END
           AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
  FROM counted
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(s AS BIGINT) AS start_offset,
       CAST(s // 256 AS BIGINT) AS first_seq,
       CAST(CASE WHEN n_tokens > 0
                 THEN (s + n_tokens - 1) // 256 - s // 256 + 1
                 ELSE 0 END AS BIGINT) AS n_seqs_spanned
FROM c
"""


def _q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption plan over the corpus — deterministic md5 draws
    keyed on (doc_id, position) make the ~15% masking objective exactly
    oracle-checkable (functions/sampling.py:span_corruption)."""
    from ..functions.sampling import span_corruption

    return span_corruption(_docs(spark, sf_dir))


def _span_corruption_sql(mask_ratio: float = 0.15,
                         mean_span: int = 3) -> str:
    thr = int(round(mask_ratio / mean_span * 16 ** 6))
    fold = " + ".join(
        "(strpos('0123456789abcdef', substr(md5('sc:' || "
        f"CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), {k + 1},"
        f" 1)) - 1) * {16 ** (5 - k)}"
        for k in range(6)
    )
    return f"""
WITH {_WORDS_CTE},
st AS (
  SELECT doc_id, ws,
         list_transform(ws, (x, i) -> ({fold}) < {thr}) AS starts
  FROM w
),
mk AS (
  SELECT doc_id, ws,
         list_transform(starts,
           (s, i) -> len(list_filter(
             starts[greatest(i - {mean_span - 1}, 1):i],
             b -> b)) > 0) AS masked
  FROM st
),
sp AS (
  SELECT doc_id, ws, masked,
         list_transform(masked,
           (m, i) -> m AND NOT COALESCE(masked[i - 1], false)) AS sstart
  FROM mk
)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(sstart, b -> b)) AS BIGINT) AS n_spans,
       CAST(len(list_filter(masked, b -> b)) AS BIGINT) AS n_masked,
       CASE WHEN len(ws) > 0
            THEN round(CAST(len(list_filter(masked, b -> b)) AS DOUBLE)
                       / CAST(len(ws) AS DOUBLE), 6)
            ELSE 0.0 END AS masked_rate,
       md5(array_to_string(
         list_transform(masked, b -> CASE WHEN b THEN '1' ELSE '0' END),
         '')) AS flags_hash
FROM sp
"""


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic corpus is PII-free, so the gate row would be vacuous on
    raw ``documents``; instead each doc is decorated with one deterministic
    email + one IPv4 derived from its id, and the row asserts both patterns
    FIRE (n_redactions = 2 per doc) and the scrubbed text hash-matches."""
    from ..functions.text import pii_scrub

    docs = _docs(spark, sf_dir)
    decorated = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 10."),
            (F.col("doc_id") % 256).cast("string"), F.lit(".0.1"),
        ).alias("text"),
    )
    return pii_scrub(decorated).select(
        "doc_id", "n_redactions", F.md5("clean_text").alias("clean_hash")
    )


def _pii_scrub_sql() -> str:
    from ..functions.text import PII_PATTERNS

    stages = []
    prev = "d0"
    for i, (_, pat, repl) in enumerate(PII_PATTERNS, 1):
        cur = f"d{i}"
        carry = (", " + ", ".join(f"c{j}" for j in range(1, i))) if i > 1 else ""
        stages.append(
            f"{cur} AS (SELECT doc_id, len(regexp_extract_all(t, '{pat}')) AS c{i}, "
            f"regexp_replace(t, '{pat}', '{repl}', 'g') AS t{carry} FROM {prev})"
        )
        prev = cur
    total = " + ".join(f"c{i}" for i in range(1, len(PII_PATTERNS) + 1))
    return f"""
WITH d0 AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.0.1' AS t
  FROM documents
),
{','.join(stages)}
SELECT doc_id, CAST({total} AS BIGINT) AS n_redactions, md5(t) AS clean_hash
FROM {prev}
"""


def _q_salted_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sampling import salted_split

    return salted_split(_docs(spark, sf_dir))


# same strpos hex fold as the temperature-sample oracle (DuckDB has no conv)
_SPLIT_FOLD = " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
    for i in range(6)
)

_SALTED_SPLIT_SQL = f"""
WITH h AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':split-v1') AS h FROM documents
),
b AS (SELECT doc_id, CAST(({_SPLIT_FOLD}) % 100 AS BIGINT) AS bucket FROM h)
SELECT doc_id, bucket,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


def _q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware split: the salted draw is keyed on the near-dup
    cluster id so near-copies never straddle train/test
    (functions/sampling.py:leakage_safe_split)."""
    from ..functions.sampling import leakage_safe_split

    return leakage_safe_split(_docs(spark, sf_dir))


def _leakage_split_sql() -> str:
    fold = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1)"
        f" * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"""
WITH cl AS (SELECT * FROM ({_near_dup_clusters_sql()})),
fl AS (
  SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN cl USING (doc_id)
),
hx AS (
  SELECT doc_id, cluster_id,
         md5(CAST(cluster_id AS VARCHAR) || ':split-v1') AS h
  FROM fl
),
b AS (SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
             CAST(({fold}) % 100 AS BIGINT) AS bucket FROM hx)
SELECT doc_id, cluster_id, bucket,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


def _q_linear_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shape classifier quality scoring: hashing-trick features,
    integer bucket weights, exact logit
    (functions/quality.py:linear_quality_score)."""
    from ..functions.quality import linear_quality_score

    return linear_quality_score(_docs(spark, sf_dir))


def _linear_quality_sql() -> str:
    from ..functions.quality import HASH_DIM

    word_fold = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(x), {i + 1}, 1)) - 1)"
        f" * {16 ** (5 - i)}"
        for i in range(6)
    )
    w_fold = " + ".join(
        "(strpos('0123456789abcdef', substr(md5('w:' || "
        f"CAST(({word_fold}) % {HASH_DIM} AS VARCHAR)), {i + 1}, 1)) - 1)"
        f" * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"""
WITH {_WORDS_CTE},
m AS (
  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
         CAST(COALESCE(list_sum(list_transform(ws,
           x -> ({w_fold}) % 1001 - 500)), 0) AS BIGINT) AS logit
  FROM w
)
SELECT doc_id, n_words, logit,
       CASE WHEN n_words > 0
            THEN round(CAST(logit AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
            ELSE 0.0 END AS mean_weight
FROM m
"""


def _q_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import source_stats

    return source_stats(_docs(spark, sf_dir))


_SOURCE_STATS_SQL = r"""
WITH per AS (
  SELECT source, lang,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
  FROM documents
),
a AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
  FROM per GROUP BY 1
),
g AS (SELECT source, fp, count(*) AS c FROM per GROUP BY 1, 2),
b AS (
  SELECT source,
         CAST(COALESCE(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS n_dup_docs
  FROM g GROUP BY 1
)
SELECT a.source, n_docs, n_tokens, n_langs, n_dup_docs
FROM a JOIN b USING (source)
"""


QUERIES: dict[str, Query] = {
    "corpus_prep_pipeline": Query(_q_corpus_prep, _corpus_prep_sql(),
                                  "composed filter->dedup->stats corpus prep"),
    "corpus_prep_full": Query(_q_corpus_prep_full, _corpus_prep_full_sql(),
                              "capstone: filter->exact-dedup->near-dup-removal"
                              "->shard-packing->stats"),
    "tfidf_top_terms": Query(_q_tfidf_top_terms, _TFIDF_SQL,
                             "per-doc top-3 TF-IDF terms"),
    "corpus_top_terms": Query(_q_corpus_top_terms, _CORPUS_TOP_TERMS_SQL,
                              "corpus-wide term frequency top-20"),
    "multimodal_features": Query(_q_multimodal_features, _multimodal_sql(),
                                 "binary column + mapInPandas feature extraction"),
    "image_decode_stats": Query(
        _q_image_decode_stats, _IMAGE_DECODE_SQL,
        "live P6 decode through Arrow mapInPandas: dims + channel means"),
    "image_near_dup": Query(
        _q_image_near_dup, _image_near_dup_sql(),
        "image average-hash near-dup via banded hamming join, ORACLED end "
        "to end (round 8): the DuckDB twin recomputes every pixel, mean, "
        "and hash bit from md5 arithmetic and string-hammings all pairs — "
        "lossless-banding equivalence makes the result sets identical"),
    "image_ahash_oracle": Query(
        _q_image_ahash_oracle, _image_ahash_sql(),
        "REAL PPM decode + perceptual aHash vs a pure-arithmetic DuckDB "
        "twin (pixels, means, and packed hash recomputed from md5 chars)"),
    "image_dhash_oracle": Query(
        _q_image_dhash_oracle, _image_dhash_sql(),
        "REAL PPM decode + gradient dHash vs a pure-arithmetic DuckDB "
        "twin; brightness-shifted fixture copies pin the hash's "
        "shift-invariance at the gate"),
    "ip_range_lookup": Query(
        _q_ip_range_lookup, _ip_range_lookup_sql(),
        "GeoIP-style point-in-range enrichment via interval-bucketed "
        "equi-join (never a theta join); oracle runs the direct "
        "BETWEEN form"),
    "unicode_normalize": Query(
        _q_unicode_normalize, _unicode_normalize_sql(),
        "Unicode NFC text normalization (combining-sequence "
        "composition + control/whitespace folds) cross-validated "
        "against DuckDB's independent utf8proc NFC"),
    "audio_spectral_stats": Query(
        _q_audio_spectral_stats, _audio_spectral_sql(),
        "executed audio feature extraction: WAV decode + rfft dominant "
        "frequency, zero crossings, RMS over square-tone fixtures with "
        "closed-form spectra"),
    "audio_decode_stats": Query(
        _q_audio_decode_stats, _AUDIO_DECODE_SQL,
        "live FLAC encode+decode round trip through Arrow mapInPandas"),
    "multimodal_frames": Query(_q_multimodal_frames, _MULTIMODAL_FRAMES_SQL,
                               "fixed-stride frame sampling over binary content"),
    "language_id": Query(_q_language_id, _lang_id_sql(),
                         "stopword-vote language heuristic"),
    "quality_score": Query(_q_quality, _quality_sql(),
                           "length/punct/stopword quality heuristic"),
    "minhash_signatures": Query(_q_minhash_sig, _minhash_sig_sql(),
                                "8-hash MinHash signatures (md5 hex min)"),
    "minhash_lsh_pairs": Query(_q_lsh_pairs, _lsh_pairs_sql(),
                               "LSH banding candidate pairs"),
    "ngram_jaccard_pairs": Query(_q_jaccard_pairs, _jaccard_pairs_sql(),
                                 "exact 3-gram Jaccard >= 0.5 pairs"),
    "near_dup_verified": Query(_q_near_dup_verified, _near_dup_verified_sql(),
                               "LSH candidates -> exact Jaccard verify (scale composition)"),
    "near_dup_clusters": Query(_q_near_dup_clusters, _near_dup_clusters_sql(),
                               "connected components over verified near-dup pairs"),
    "dedup_survivors": Query(_q_dedup_survivors, _dedup_survivors_sql(),
                             "cluster-canonical dedup applied (keepers only)"),
    "simhash": Query(_q_simhash, _simhash_sql(),
                     "16-bit SimHash signatures"),
    "simhash_near_dup": Query(_q_simhash_pairs, _simhash_pairs_sql(),
                              "SimHash hamming<=3 pairs"),
    "cosine_topk": Query(_q_bf_topk, _bf_topk_sql(),
                         "brute-force cosine top-10 for 5 queries"),
    "ivf_assign": Query(_q_ivf_assign, _ivf_assign_sql(),
                        "IVF cell assignment (16 seed centroids)"),
    "ivf_topk": Query(_q_ivf_topk, _ivf_topk_sql(),
                      "IVF nprobe=2 approximate top-10"),
    "embedding_near_dup": Query(_q_emb_near_dup, _emb_near_dup_sql(),
                                "embedding-cosine near-dup pairs >= 0.92"),
    "embedding_near_dup_verified": Query(
        _q_emb_near_dup_verified, _emb_near_dup_verified_sql(),
        "IVF-blocked embedding near-dup (scale composition)"),
    "semantic_dedup": Query(
        _q_semantic_dedup, _semantic_dedup_sql(),
        "SemDeDup semantic dedup: IVF-cell blocking + in-cell cosine "
        "pairs + keep-least-central survivor rule"),
    "ivf_topk_trained": Query(_q_ivf_topk_trained, None,
                              "IVF top-k over KMeans-trained centroids (rows-only)"),
    "quality_classifier_trained": Query(
        _q_quality_classifier, None,
        "trained fastText-style quality classifier (HashingTF + "
        "logistic regression over weak labels; rows-only per the "
        "iterative-training policy)"),
    "pq_topk_rerank": Query(
        _q_pq_topk_rerank, None,
        "product-quantization ADC shortlist + exact re-rank top-10 "
        "(rows-only per the ANN recall policy; recall >= 0.9 pinned by "
        "pytest, curve in experiments/pq_recall.py)"),
    "quantize_embeddings": Query(_q_quantize_embeddings, _QUANTIZE_SQL,
                                 "symmetric int8 embedding quantization"),
    "pack_token_shards": Query(_q_pack_token_shards, _PACK_SHARDS_SQL,
                               "fixed token-budget training-shard packing"),
    "stratified_sample": Query(_q_stratified_sample,
                               _stratified_sample_sql(),
                               "language-stratified corpus draw "
                               "(deterministic md5-threshold)"),
    "repetition_ratio": Query(_q_repetition_ratio, _REPETITION_SQL,
                              "within-doc n-gram repetition filter"),
    "contamination_check": Query(_q_contamination_check, _CONTAMINATION_SQL,
                                 "benchmark 8-gram contamination scan"),
    "contamination_overlap": Query(
        _q_contamination_overlap, _CONTAMINATION_OVERLAP_SQL,
        "fuzzy decontamination: per (doc, bench) 8-gram overlap ratio"),
    "rare_bigram_rate": Query(
        _q_rare_bigram_rate, _RARE_BIGRAM_SQL,
        "corpus-LM novelty: fraction of doc bigrams rare corpus-wide"),
    "vocab_coverage": Query(_q_vocab_coverage, _VOCAB_COVERAGE_SQL,
                            "doc-frequency vocab + per-doc OOV rate"),
    "temperature_sample": Query(_q_temperature_sample, _TEMPERATURE_SQL,
                                "deterministic temperature-based source mix"),
    "bpe_merges": Query(
        _q_bpe_merges, None,
        "distributed BPE tokenizer training: 8 merges on the word-freq table"),
    "bpe_tokenize": Query(
        _q_bpe_tokenize, None,
        "corpus tokenization with the trained merges (broadcast-join "
        "segmentation applier); rows-only per the iterative-training policy"),
    "unigram_tokenize": Query(
        _q_unigram_tokenize, None,
        "unigram-LM (SentencePiece-family) tokenization: EM-trained "
        "piece vocabulary + per-distinct-word Viterbi segmentation; "
        "rows-only per the iterative-training policy"),
    "bpe_vocab": Query(
        _q_bpe_vocab, None,
        "token vocabulary derivation from trained merges (alphabet + "
        "merge products with contiguous ids, the tokenizer.json "
        "model.vocab shape); rows-only per the iterative-training policy"),
    "exact_substring_spans": Query(
        _q_exact_substring_spans, _EXACT_SUBSTR_SQL,
        "char-level ExactSubstr profile: maximal cross-doc spans >= 30 chars"),
    "exact_substring_rewrite": Query(
        _q_exact_substring_rewrite, _EXACT_SUBSTR_REWRITE_SQL,
        "char-span removal: cross-doc dup spans cut, first occurrence kept"),
    "exact_substring_profile_rewrite": Query(
        _q_exact_substring_profile_rewrite, _EXACT_SUBSTR_COMBINED_SQL,
        "fused ExactSubstr profile + rewrite off one gram exchange"),
    "passage_dedup": Query(_q_passage_dedup, _PASSAGE_DEDUP_SQL,
                           "C4-style cross-doc passage (8-word block) dup profile"),
    "passage_rewrite": Query(
        _q_passage_rewrite, _PASSAGE_REWRITE_SQL,
        "C4-style span removal: cross-doc dup blocks cut, first kept"),
    "chunk_documents": Query(_q_chunk_documents, _CHUNK_SQL,
                             "64-token chunks every 48 tokens (overlap 16)"),
    "html_extract_main": Query(
        _q_html_extract_main, _html_extract_sql(),
        "HTML boilerplate removal: jusText-lite link-density extraction "
        "over pages synthesized around documents.text"),
    "anchor_texts": Query(
        _q_anchor_texts, _anchor_texts_sql(),
        "per-target anchor-text aggregation over the synthesized pages "
        "(order-canonical postings hash)"),
    "bm25_scores": Query(
        _q_bm25_scores, _bm25_sql(),
        "BM25 document scoring against a fixed query (Lucene idf, "
        "term filter before the first exchange)"),
    "soft_dedup_weights": Query(
        _q_soft_dedup_weights, _soft_dedup_weights_sql(),
        "SoftDeDup duplicate-discounted sampling weights: 1e6 div "
        "max(exact copies, near-dup cluster size), integer-exact"),
    "mixture_plan": Query(
        _q_mixture_plan, _mixture_plan_sql(),
        "per-source temperature mix plan: target shares, sampling "
        "rate, epochs inside a fixed token budget"),
    "scd2_history": Query(
        _q_scd2_history, _SCD2_HISTORY_SQL,
        "SCD2 effective-dated fingerprint history over 4 crawl "
        "snapshots (one key exchange carries runs, frames, and the "
        "valid_to stitch)"),
    "phrase_search": Query(
        _q_phrase_search, _phrase_search_sql(),
        "exact-phrase positional query via anchor votes (broadcast "
        "phrase join; only matching-term postings shuffle)"),
    "crawl_schedule": Query(
        _q_crawl_schedule, _crawl_schedule_sql(),
        "per-host politeness wave scheduling of canonical-URL keepers "
        "(sharded ranged rank — no single-task mega-host sort)"),
    "search_rank": Query(
        _q_search_rank, _search_rank_sql(),
        "IR capstone: BM25 candidates boosted by anchor counts and "
        "exact-phrase hits, deterministic top-25 "
        "(TakeOrderedAndProject, no global sort)"),
    "robots_txt_gate_named": Query(
        _q_robots_txt_gate_named, _robots_txt_gate_named_sql(),
        "robots.txt gate for a NAMED crawler: RFC 9309 §2.2.1 group "
        "selection (named overrides *, '*bot' binds nobody, fallback "
        "to default)"),
    "crawl_schedule_paced": Query(
        _q_crawl_schedule_paced, _crawl_schedule_paced_sql(),
        "robots.txt Crawl-delay -> per-host wave pacing composition "
        "(not_before_s = wave * delay, default for silent hosts)"),
    "crawl_backoff_schedule": Query(
        _q_crawl_backoff_schedule, _crawl_backoff_schedule_sql(),
        "anomaly-aware schedule: per-host rolling z-score fetch-rate "
        "flags back off the paced cadence (the detector's read side)"),
    "sitemap_parse": Query(
        _q_sitemap_parse, _sitemap_parse_sql(),
        "sitemap XML parsing: urlset entries with metadata defaults + "
        "try_cast fallback, sitemapindex entries (zero-shuffle regexp)"),
    "sitemap_gz_parse": Query(
        _q_sitemap_gz_parse,
        # the plain row's SQL verbatim, plus the gz member contract —
        # textbook strict subsumption
        "SELECT s.*, CAST(CASE WHEN s.doc_id % 5 = 0 THEN 2 ELSE 1 END"
        " AS INTEGER) AS n_members\nFROM (" + _sitemap_parse_sql()
        + ") s",
        "gzipped sitemap ingestion: bounded multi-member gunzip + the "
        "one parse_sitemap rendering (the warc_gz_parse posture)"),
    "sitemap_frontier": Query(
        _q_sitemap_frontier, _sitemap_frontier_sql(),
        "frontier seeding: robots.txt Sitemap lines -> per-domain XML "
        "parse -> robots gate, with priorities"),
    "mp3_stats": Query(
        _q_mp3_stats, _MP3_STATS_SQL,
        "live MP3 frame-header walk (synthesize + parse in one Arrow "
        "batch): frame count, duration, bitrate range, VBR, ID3 skip"),
    "webp_dims": Query(
        _q_webp_dims, _WEBP_DIMS_SQL,
        "live WebP header walk (VP8 lossy / VP8L lossless / VP8X "
        "extended): dims without pixel decode, synthesized in-batch"),
    "avif_dims": Query(
        _q_avif_dims, _AVIF_DIMS_SQL,
        "live AVIF ISO-BMFF box walk (ftyp/meta/iprp/ipco/ispe): dims "
        "without AV1 decode, first-ispe rule pinned, synthesized "
        "in-batch"),
    "host_reputation": Query(
        _q_host_reputation, _host_reputation_sql(),
        "per-host crawl-quality profile: duplicate rate + mean quality "
        "-> reputation, integer-exact (frontier prioritization signal)"),
    "webp_roundtrip_stats": Query(
        _q_webp_roundtrip_stats, _WEBP_ROUNDTRIP_SQL,
        "executed VP8L encode+decode roundtrip (transform-free lossless "
        "WebP pixels): per-channel sums + lossless flag, in-batch"),
    "webp_predictor_stats": Query(
        _q_webp_predictor_stats, _WEBP_PREDICTOR_SQL,
        "executed VP8L PREDICTOR-transform decode (all 14 modes, border "
        "rules, TR wrap, sub-image entropy decode): sums + lossless"),
    "webp_palette_stats": Query(
        _q_webp_palette_stats, _WEBP_PALETTE_SQL,
        "executed VP8L COLOR-INDEXING decode (delta-coded palette, all "
        "pixel-bundling widths): sums + lossless (oracled tail row)"),
    "webp_entropy_stats": Query(
        _q_webp_entropy_stats, _WEBP_ENTROPY_SQL,
        "executed VP8L ENTROPY-IMAGE decode (per-tile prefix groups): "
        "sums + lossless (oracled tail row)"),
    "webdataset_pack": Query(
        _q_webdataset_pack, _WEBDATASET_PACK_SQL,
        "WebDataset shard WRITER roundtrip: corpus -> deterministic "
        "ustar shards -> manifest walk; oracle rebuilds every column "
        "including the names fingerprint"),
    "gopher_repetition": Query(
        _q_gopher_repetition, _gopher_repetition_sql(),
        "Gopher A1.2 repetition-removal battery: dup line/paragraph "
        "fractions, top-2/3/4-gram chars, dup-5/10-gram coverage, all "
        "integer-ppm; oracle is an independent DuckDB re-implementation"),
    "pdf_text_extract": Query(
        _q_pdf_text_extract, _PDF_TEXT_SQL,
        "PDF page-text extraction: xref-walked /Contents, bounded "
        "Flate inflate, BT..ET string operators with all escapes"),
    "mp4_stats": Query(
        _q_mp4_stats, _MP4_STATS_SQL,
        "MP4/ISO-BMFF movie triage via the shared box walk: "
        "mvhd v0/v1 duration, track handlers, stsd codec fourccs"),
    "ogg_audio_stats": Query(
        _q_ogg_audio_stats, _OGG_AUDIO_SQL,
        "OGG (RFC 3533) page walk with verified page CRCs: "
        "vorbis/opus identity, granule duration, byte accounting"),
    "cdx_parse": Query(
        _q_cdx_parse, _CDX_PARSE_SQL,
        "CDXJ web-archive index lines: SURT urlkey derivation "
        "(canonicalize -> www-strip -> label-reverse) + typed parse"),
    "pack_samples": Query(
        _q_pack_samples, _PACK_SAMPLES_SQL,
        "boundary-respecting sample packing: greedy next-fit into "
        "fixed-capacity sequences within ranked shards, waste audited"),
    "wat_metadata": Query(
        _q_wat_metadata, _wat_metadata_sql(),
        "WAT companion: per-response JSON metadata envelope (WARC "
        "headers + href link metadata) rendered, reparsed, unpacked"),
    "wet_conversion": Query(
        _q_wet_conversion, _wet_conversion_sql(),
        "WET companion: warc.gz responses -> jusText-lite extraction "
        "-> conversion records -> parsed back (one parser rendering)"),
    "cdx_index": Query(
        _q_cdx_index, _cdx_index_sql(),
        "warc.gz -> CDXJ indexing: gzip member byte spans (each "
        "slice re-gunzipped and verified — the range-request "
        "contract) + SURT urlkey -> lines -> parsed back"),
    "png_palette_stats": Query(
        _q_png_palette_stats, _PNG_PALETTE_SQL,
        "executed palette-PNG decode (PLTE map, 1/2/4/8-bit MSB-first "
        "unpack, chunk CRCs verified): dims + channel sums"),
    "webp_lz77_stats": Query(
        _q_webp_lz77_stats, _WEBP_LZ77_SQL,
        "executed VP8L NEAR-DISTANCE LZ77 decode (vendored 120-entry "
        "spec plane map — the last VP8L seam, closed round 13): "
        "sums + compressed + lossless"),
    "vp8_roundtrip_stats": Query(
        _q_vp8_roundtrip_stats, _VP8_ROUNDTRIP_SQL,
        "executed VP8 lossy key-frame codec (bool coder, token "
        "contexts, Y2/WHT, intra prediction): decode == encoder recon "
        "bit-exact per doc (oracled tail row)"),
    "dsir_weights": Query(
        _q_dsir_weights, _dsir_sql(),
        "DSIR importance resampling (hashed unigram+bigram log-ratio "
        "weights, target vs raw distribution): per-doc log weight + "
        "threshold selection (oracled tail row)"),
    "frontier_rank": Query(
        _q_frontier_rank, _frontier_rank_sql(),
        "reputation-weighted frontier ordering: robots-gated sitemap "
        "seeds ranked per host, scored by host reputation x priority"),
    "snapshot_diff": Query(
        _q_snapshot_diff, _snapshot_diff_sql(),
        "URL-keyed added/removed/changed/unchanged diff between two "
        "crawl snapshots (fingerprints only cross the join)"),
    "extract_links": Query(
        _q_extract_links, _extract_links_sql(),
        "outlink extraction over the synthesized pages (raw + distinct "
        "href targets, fingerprinted)"),
    "warc_parse": Query(
        _q_warc_parse, _warc_parse_sql(),
        "WARC record parsing over synthesized two-record streams "
        "(headers + Content-Length self-check + payload fingerprint)"),
    "warc_gz_parse": Query(
        _q_warc_gz_parse, _warc_gz_sql(),
        "warc.gz ingestion (the CommonCrawl container): bounded "
        "multi-member gunzip per doc + the shared WARC record parse; "
        "member/record 1:1 contract pinned"),
    "zip_stats": Query(
        _q_zip_stats, _zip_stats_sql(),
        "ZIP central-directory walk (docx/epub/jar triage): EOCD + "
        "entry headers, no decompression, cross-validated against "
        "stdlib-zipfile-written archives"),
    "webdataset_manifest": Query(
        _q_webdataset_manifest, _webdataset_sql(),
        "WebDataset shard manifest: ustar header walk (checksums "
        "verified) + sample grouping + completeness, cross-validated "
        "against stdlib-tarfile-written shards"),
    "corpus_datasheet": Query(
        _q_corpus_datasheet, _corpus_datasheet_sql(),
        "per-source data-card audit: volume, token mass, dup rate, "
        "modal language, mean quality — all shared renderings, one "
        "source-keyed exchange"),
    "jpeg_exif_stats": Query(
        _q_jpeg_exif_stats, _jpeg_exif_sql(),
        "EXIF walk over real JPEG streams (APP1 -> shared TIFF IFD "
        "rendering): orientation/provenance triage, both arms at "
        "every SF"),
    "pdf_stats": Query(
        _q_pdf_stats, _pdf_stats_sql(),
        "PDF header/xref/trailer walk (classic tables): object/page "
        "counts, declared size, encryption triage — offsets verified "
        "against the declared object headers"),
    "id3_stats": Query(
        _q_id3_stats, _id3_stats_sql(),
        "ID3v2 frame walk over tagged MP3 streams: title/artist/album/"
        "year provenance (the audio EXIF), bounds-checked frame sizes, "
        "both arms at every SF"),
    "c4_sentence_filter": Query(
        _q_c4_sentence_filter, _C4_FILTER_SQL,
        "C4 sentence cleanup: short sentences dropped, blocklisted or "
        "thin docs dropped whole"),
    "bigram_lm_score": Query(
        _q_bigram_lm_score, _bigram_lm_sql(),
        "bigram-LM fluency scoring (CCNet posture), integer-scaled "
        "add-one-smoothed probabilities — exact across engines"),
    "ccnet_buckets": Query(
        _q_ccnet_buckets, _ccnet_buckets_sql(),
        "CCNet per-language head/middle/tail fluency buckets: lang-ID "
        "+ bigram-LM score + scale-safe ranged quantile rank (no "
        "mega-language single-task sort)"),
    "domain_pagerank": Query(
        _q_domain_pagerank, _domain_pagerank_sql(),
        "integer-exact 3-iteration PageRank over the synthesized domain "
        "link graph (edge-join + dst-agg per round, bit-identical "
        "across engines by integer division)"),
    "compliant_pagerank": Query(
        _q_compliant_pagerank, _compliant_pagerank_sql(),
        "robots->links->rank composition: nofollow pages' outlinks "
        "dropped before the domain rollup, then integer PageRank"),
    "pagerank_dangling": Query(
        _q_pagerank_dangling, _pagerank_dangling_sql(),
        "PageRank with uniform dangling-mass redistribution over a "
        "graph with genuinely dangling domains (integer-exact)"),
    "salsa_scores": Query(
        _q_salsa_scores, _salsa_sql(),
        "integer-exact 2-iteration SALSA hub/authority scores over "
        "the domain link graph (row/column-stochastic splits make the "
        "HITS-family signal int64-exact and engine-order-independent)"),
    "robots_txt_gate": Query(
        _q_robots_txt_gate, _robots_txt_gate_sql(),
        "RFC 9309 robots.txt parsing + longest-match/allow-wins URL "
        "gate (wildcards, $ anchors, agent-group selection)"),
    "robots_filter": Query(
        _q_robots_filter, _robots_filter_sql(),
        "robots/noindex compliance gate: meta robots (both attribute "
        "orders) + X-Robots-Tag header, token-wise directive matching"),
    "gopher_quality": Query(
        _q_gopher_quality, _gopher_sql(),
        "Gopher A1.1 document-quality rules, integer-exact thresholds"),
    "cap_per_domain": Query(
        _q_cap_per_domain, _CAP_DOMAIN_SQL,
        "per-domain document caps over synthesized URLs (RefinedWeb "
        "rebalancing stage)"),
    "url_canonicalize": Query(
        _q_url_canonicalize, _url_canonicalize_sql(),
        "URL canonicalization (scheme/host case, default ports, "
        "fragments, trailing slashes, tracking params, param sort) — "
        "zero-shuffle codegen, identical regex pipeline on both engines"),
    "url_dedup": Query(
        _q_url_dedup, _url_dedup_sql(),
        "URL-level keep-first dedup on the canonical key (the crawl "
        "stage before content dedup) — one exchange, map-side combine"),
    "crawl_admission": Query(
        _q_crawl_admission, _crawl_admission_sql(),
        "crawl-admission capstone: canonical-URL dedup -> robots gate -> "
        "prior-snapshot content check, one status per doc in priority "
        "order"),
    "dedup_against_prior": Query(
        _q_dedup_against_prior, _dedup_against_sql(),
        "cross-snapshot incremental dedup against a persisted "
        "fingerprint+MinHash profile (repeated-crawl posture: known "
        "content never re-admitted, prior text never re-read)"),
    "ngram_cms_counts": Query(
        _q_ngram_cms_counts, _ngram_cms_sql(),
        "count-min sketch bigram heavy-hitter probe (fixed-size state; "
        "md5-fold hashes make the approximate estimates exactly "
        "oracle-reproducible)"),
    "ngram_hll_registers": Query(
        _q_ngram_hll_registers, _hll_sql(),
        "HyperLogLog register table over bigrams (integer-exact sketch "
        "state; float estimator pytest-side by design)"),
    "ngram_bloom_probe": Query(
        _q_ngram_bloom, _ngram_bloom_sql(),
        "Bloom-filter membership probe over bigrams (fixed m-bit state; "
        "no-false-negative contract + deterministic FP pattern hashed)"),
    "inverted_index": Query(
        _q_inverted_index, _INVERTED_INDEX_SQL,
        "term -> postings inverted index (df, total tf, order-canonical "
        "postings fingerprint) — the IR retrieval artifact"),
    "web_prep_full": Query(
        _q_web_prep_full, _web_prep_sql(),
        "web-corpus capstone: synthesized pages -> HTML extraction -> "
        "C4 -> Gopher -> exact dedup -> domain caps -> stats"),
    "span_corruption": Query(
        _q_span_corruption, _span_corruption_sql(),
        "T5 span-corruption mask planning (deterministic md5 draws, "
        "exact mask-vector fingerprints)"),
    "pack_sequences": Query(
        _q_pack_sequences, _PACK_SEQUENCES_SQL,
        "fixed-length causal-LM sequence packing layout (docs split at "
        "seq_len boundaries; sharded prefix-sum offsets)"),
    "leakage_safe_split": Query(
        _q_leakage_safe_split, _leakage_split_sql(),
        "cluster-aware train/val/test split: near-dups never straddle "
        "splits (salted draw keyed on the near-dup cluster id)"),
    "linear_quality_score": Query(
        _q_linear_quality_score, _linear_quality_sql(),
        "fastText-shape classifier quality scorer: hashing-trick "
        "features, integer bucket weights, exact logit"),
    "pii_scrub": Query(_q_pii_scrub, _pii_scrub_sql(),
                       "regex PII redaction (email/ssn/phone/ipv4), seeded"),
    "salted_split": Query(_q_salted_split, _SALTED_SPLIT_SQL,
                          "deterministic salted train/val/test assignment"),
    "source_stats": Query(_q_source_stats, _SOURCE_STATS_SQL,
                          "per-source docs/tokens/langs/dup-rate dashboard"),
}
