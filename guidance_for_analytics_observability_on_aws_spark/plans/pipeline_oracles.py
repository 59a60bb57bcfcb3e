"""DuckDB oracle SQL for the training-data pipeline group (P).

Mirrors ``operators/pipeline.py`` op-for-op. ``dup_groups`` reuses the
MinHash-LSH pair pipeline CTEs from ``dedup_oracles`` verbatim and resolves
transitive closure with a recursive CTE — DuckDB's declarative equivalent of
the Spark side's connected components (``dup_labels_star``).
"""

from ..functions.hashing import md5_int_sql
from ..operators.pipeline import (
    PACK_CONTEXT,
    SAMPLE_PER_STRATUM,
    SPLIT_TRAIN,
    SPLIT_VAL,
)
from .dedup_oracles import MINHASH_BUCKET_CTES
from ..functions.text import SHINGLES_SQL as _SHINGLES_SQL
from .text_oracles import _STOP_LIST as _STOP_LIST_SQL

PIPELINE_ORACLES: dict[str, str] = {}

_WS_TOKENS = "CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT)"

PIPELINE_ORACLES["train_val_split"] = f"""
WITH per_doc AS (
  SELECT CASE WHEN {md5_int_sql("CAST(doc_id AS VARCHAR)", 4)} % 100 < {SPLIT_TRAIN} THEN 'train'
              WHEN {md5_int_sql("CAST(doc_id AS VARCHAR)", 4)} % 100 < {SPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split,
         source,
         {_WS_TOKENS} AS ws_tokens,
         CAST(n_chars AS BIGINT) AS n_chars
  FROM documents
)
SELECT split, source,
       COUNT(*) AS n_docs,
       CAST(SUM(ws_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM per_doc GROUP BY 1, 2
"""

PIPELINE_ORACLES["sample_stratified"] = f"""
WITH keyed AS (
  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS sample_key
  FROM documents
),
ranked AS (
  SELECT source, doc_id, sample_key,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY sample_key, doc_id) AS BIGINT) AS rank
  FROM keyed
)
SELECT source, rank, doc_id, sample_key
FROM ranked WHERE rank <= {SAMPLE_PER_STRATUM}
"""

PIPELINE_ORACLES["pack_sequences"] = f"""
WITH per_doc AS (
  SELECT doc_id, source, {_WS_TOKENS} AS ws_tokens FROM documents
),
binned AS (
  SELECT doc_id, source, ws_tokens,
         CAST(FLOOR((SUM(ws_tokens) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - ws_tokens) / {PACK_CONTEXT}) AS BIGINT) AS bin
  FROM per_doc
)
SELECT source, bin,
       COUNT(*) AS n_docs,
       CAST(SUM(ws_tokens) AS BIGINT) AS bin_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM binned GROUP BY 1, 2
"""

# dup_groups: the D3 bucket CTE chain feeds a pair CTE; transitive closure +
# min-label resolved with a recursive CTE (DuckDB's declarative equivalent of
# the Spark side's connected components).
# CC label chain: bucket CTEs + pair/edge/transitive-closure/label CTEs —
# shared by dup_groups and the curation-pipeline funnel.
from .dedup_oracles import closure_ctes  # noqa: E402

CC_LABEL_CTES = (
    MINHASH_BUCKET_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
mh_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a
  JOIN buckets b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""
    + closure_ctes("mh_pairs")
)

PIPELINE_ORACLES["dup_groups"] = (
    CC_LABEL_CTES
    + """
SELECT group_id,
       COUNT(*) AS n_docs,
       array_to_string(list_sort(list(src)), ',') AS doc_ids
FROM labels GROUP BY 1 HAVING COUNT(*) >= 2
"""
)


# The X2 quality formula and the shared per-document signal CTE — ONE SQL
# definition consumed by the curation funnel (P5/P11), the dataset card
# (P12) and the filter ablation (P13), mirroring
# operators/pipeline.py::_per_doc_signals so the signals can never drift.
_QUALITY_SQL = f"""LEAST(1.0, 0.2
           + 0.5 * LEAST(CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                t -> list_contains({_STOP_LIST_SQL}, t))) AS BIGINT)
                        / {_WS_TOKENS} * 4, 1.0)
           + 0.3 * LEAST({_WS_TOKENS} / 200.0, 1.0))"""

_PER_DOC_SIGNALS = f"""per_doc AS (
  SELECT doc_id, source, lang, md5(text) AS fingerprint,
         {_WS_TOKENS} AS n_tokens,
         {_QUALITY_SQL} AS quality
  FROM corpus
)"""

# Shared P5/P11 funnel tail: expects a `labels` CTE (the dup-group
# membership) and the corpus CTE to be in scope; the two funnels differ
# ONLY in which pair graph feeds `labels` (LSH candidates vs D15's
# verified banded pairs) — mirrored by operators/pipeline.py::_curation_funnel.
_FUNNEL_STAGES = f""",
{_PER_DOC_SIGNALS},
s1 AS (
  SELECT * FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY fingerprint) AS keep_id FROM per_doc
  ) WHERE doc_id = keep_id
),
non_canonical AS (
  SELECT src AS doc_id FROM labels WHERE group_id != src
),
s2 AS (
  SELECT s1.* FROM s1 LEFT JOIN non_canonical nc ON s1.doc_id = nc.doc_id
  WHERE nc.doc_id IS NULL
),
s3 AS (
  SELECT * FROM s2 WHERE quality >= 0.5
)"""

_FUNNEL_SELECT = """
SELECT '0_raw' AS stage, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM per_doc
UNION ALL
SELECT '1_exact_dedup', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM s1
UNION ALL
SELECT '2_near_dedup', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM s2
UNION ALL
SELECT '3_quality', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM s3
"""

#: The P5/P11 funnel tail — stages + summary, ONE definition (v3 extends
#: the same stage CTEs with span-scrub and DSIR stages).
_FUNNEL_TAIL = _FUNNEL_STAGES + _FUNNEL_SELECT

PIPELINE_ORACLES["corpus_curation_pipeline"] = CC_LABEL_CTES + _FUNNEL_TAIL

# P11: same funnel over the VERIFIED banded pair graph (D15's survivors).
from .dedup_oracles import BANDED_PAIR_CTES  # noqa: E402

_BANDED_CC_CTES = BANDED_PAIR_CTES.replace(
    "WITH ", "WITH RECURSIVE ", 1
) + closure_ctes("banded_pairs")

PIPELINE_ORACLES["corpus_curation_pipeline_v2"] = _BANDED_CC_CTES + _FUNNEL_TAIL

from ..functions.text import CORPUS_CTE, SHINGLES_SQL  # noqa: E402
from ..operators.pipeline import MIXTURE_BUDGET  # noqa: E402

PIPELINE_ORACLES["decontaminate"] = f"""
WITH {CORPUS_CTE},
corp_toks AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
  FROM corpus
  WHERE NOT (doc_id < 1000000 AND doc_id % 25 = 0)
),
corp_sh AS (
  SELECT doc_id, unnest({SHINGLES_SQL}) AS shingle
  FROM corp_toks WHERE len(toks) >= 3
),
bench_toks AS (
  SELECT regexp_split_to_array(text, '\\s+') AS toks
  FROM documents WHERE doc_id % 25 = 0
),
bench AS (
  SELECT DISTINCT unnest({SHINGLES_SQL}) AS shingle
  FROM bench_toks WHERE len(toks) >= 3
),
per_doc AS (
  SELECT c.doc_id,
         COUNT(*) AS n_shingles,
         CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
  FROM corp_sh c LEFT JOIN bench b ON c.shingle = b.shingle
  GROUP BY 1
)
SELECT doc_id, n_shingles, n_overlap,
       n_overlap / n_shingles AS contamination,
       n_overlap / n_shingles >= 0.5 AS contaminated
FROM per_doc
WHERE n_overlap > 0
"""

PIPELINE_ORACLES["mixture_sample"] = f"""
WITH srcs AS (
  SELECT DISTINCT source, TRY_CAST(SUBSTR(source, 4) AS BIGINT) % 3 + 1 AS wt
  FROM documents
),
tw AS (SELECT CAST(SUM(wt) AS BIGINT) AS total_w FROM srcs),
targets AS (
  SELECT source, wt, ({MIXTURE_BUDGET} * wt) // total_w AS target_tokens
  FROM srcs, tw
),
per_doc AS (
  SELECT doc_id, source, {{_WS_TOKENS}} AS ws_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS sample_key
  FROM documents
),
ranked AS (
  SELECT p.source, ws_tokens,
         CAST(SUM(ws_tokens) OVER (PARTITION BY p.source ORDER BY sample_key, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
         t.wt, t.target_tokens
  FROM per_doc p JOIN targets t USING (source)
)
SELECT source,
       CAST(MAX(wt) AS BIGINT) AS weight,
       CAST(MAX(target_tokens) AS BIGINT) AS target_tokens,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN cum_tokens <= target_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_picked,
       CAST(SUM(CASE WHEN cum_tokens <= target_tokens THEN ws_tokens ELSE 0 END) AS BIGINT) AS picked_tokens
FROM ranked GROUP BY 1
"""
PIPELINE_ORACLES["mixture_sample"] = PIPELINE_ORACLES["mixture_sample"].replace(
    "{_WS_TOKENS}", _WS_TOKENS
)

PIPELINE_ORACLES["incremental_dedup"] = f"""
WITH {CORPUS_CTE},
fps AS (
  SELECT doc_id, source,
         md5(text) AS exact_fp,
         md5(array_to_string(list_sort(list_distinct(
           regexp_split_to_array(text, '\\s+'))), ' ')) AS content_fp
  FROM corpus
),
new_fp AS (SELECT * FROM fps WHERE doc_id >= 1000000),
exact_dict AS (SELECT DISTINCT exact_fp FROM fps WHERE doc_id < 1000000),
content_dict AS (SELECT DISTINCT content_fp FROM fps WHERE doc_id < 1000000),
probed AS (
  SELECT n.source,
         e.exact_fp IS NOT NULL AS x_hit,
         c.content_fp IS NOT NULL AS c_hit
  FROM new_fp n
  LEFT JOIN exact_dict e ON n.exact_fp = e.exact_fp
  LEFT JOIN content_dict c ON n.content_fp = c.content_fp
)
SELECT source,
       COUNT(*) AS n_new,
       CAST(SUM(CASE WHEN x_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_exact,
       CAST(SUM(CASE WHEN NOT x_hit AND c_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_content,
       CAST(SUM(CASE WHEN NOT x_hit AND NOT c_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM probed GROUP BY 1
"""

PIPELINE_ORACLES["split_leak_proof"] = (
    CC_LABEL_CTES
    + f""",
assigned AS (
  SELECT c.doc_id, c.source,
         CASE WHEN {md5_int_sql("CAST(COALESCE(l.group_id, c.doc_id) AS VARCHAR)", 4)} % 100 < {SPLIT_TRAIN} THEN 'train'
              WHEN {md5_int_sql("CAST(COALESCE(l.group_id, c.doc_id) AS VARCHAR)", 4)} % 100 < {SPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split
  FROM corpus c LEFT JOIN labels l ON c.doc_id = l.src
),
cross_pairs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cross_split_pairs
  FROM mh_pairs p
  JOIN assigned a ON p.doc_a = a.doc_id
  JOIN assigned b ON p.doc_b = b.doc_id
  WHERE a.split != b.split
)
SELECT s.split, s.n_docs, s.n_sources, c.n_cross_split_pairs
FROM (
  SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources
  FROM assigned GROUP BY 1
) s, cross_pairs c
"""
)

from ..functions.text import CORPUS_CTE as _CORPUS_CTE  # noqa: E402

PIPELINE_ORACLES["dataset_card_report"] = f"""
WITH {_CORPUS_CTE},
{_PER_DOC_SIGNALS},
base AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_ws_tokens,
         COUNT(DISTINCT lang) AS n_langs,
         CAST(SUM(CASE WHEN quality >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_quality,
         CAST(SUM(CASE WHEN quality >= 0.5 AND quality < 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_medium_quality,
         CAST(SUM(CASE WHEN quality < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality
  FROM per_doc GROUP BY 1
),
lang_counts AS (
  SELECT source, lang, COUNT(*) AS lang_docs
  FROM per_doc GROUP BY 1, 2
),
top_lang AS (
  SELECT source, lang AS top_lang, lang_docs AS top_lang_docs
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY lang_docs DESC, lang) AS rn
        FROM lang_counts)
  WHERE rn = 1
),
dups AS (
  SELECT source, CAST(SUM(cnt - 1) AS BIGINT) AS n_dup_docs
  FROM (SELECT source, fingerprint, COUNT(*) AS cnt
        FROM per_doc GROUP BY 1, 2)
  GROUP BY 1
)
SELECT b.source, b.n_docs, b.total_ws_tokens, b.n_langs,
       t.top_lang, t.top_lang_docs,
       b.n_high_quality, b.n_medium_quality, b.n_low_quality,
       d.n_dup_docs,
       d.n_dup_docs / b.n_docs AS dup_ratio
FROM base b
JOIN top_lang t ON t.source = b.source
JOIN dups d ON d.source = b.source
"""

PIPELINE_ORACLES["filter_ablation"] = f"""
WITH {_CORPUS_CTE},
{_PER_DOC_SIGNALS},
flagged AS (
  SELECT quality < 0.5 AS f_low_quality,
         n_tokens < 10 AS f_too_short,
         doc_id != MIN(doc_id) OVER (PARTITION BY fingerprint) AS f_exact_dup
  FROM per_doc
),
combos AS (
  SELECT f_low_quality, f_too_short, f_exact_dup, COUNT(*) AS n_docs
  FROM flagged GROUP BY 1, 2, 3
)
SELECT f_low_quality, f_too_short, f_exact_dup,
       CAST(n_docs AS BIGINT) AS n_docs,
       n_docs / SUM(n_docs) OVER () AS share
FROM combos
"""

PIPELINE_ORACLES["vocab_coverage"] = f"""
WITH {_CORPUS_CTE},
freq AS (
  SELECT token, COUNT(*) AS n_occ
  FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS token FROM corpus)
  GROUP BY 1
),
ranked AS (
  SELECT *,
         CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, token) AS BIGINT) AS rnk,
         CAST(SUM(n_occ) OVER (ORDER BY n_occ DESC, token
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_occ
  FROM freq
),
totals AS (
  SELECT CAST(SUM(n_occ) AS BIGINT) AS total_occ, COUNT(*) AS n_types FROM freq
)
SELECT r.rnk AS vocab_size, r.cum_occ, t.total_occ, t.n_types,
       r.cum_occ / CAST(t.total_occ AS DOUBLE) AS coverage
FROM ranked r, totals t
WHERE r.rnk IN (5, 10, 20, 30)
ORDER BY 1
"""

PIPELINE_ORACLES["cross_source_overlap"] = f"""
WITH {_CORPUS_CTE},
ctoks AS (
  SELECT doc_id, source, regexp_split_to_array(text, '\\s+') AS toks FROM corpus
),
shingled AS (
  SELECT doc_id, source, {_SHINGLES_SQL} AS sh
  FROM ctoks WHERE len(toks) >= 3
),
fp_src AS (
  SELECT DISTINCT unnest(sh) AS shingle, source FROM shingled
),
per_source AS (
  SELECT source, COUNT(*) AS n_shingles FROM fp_src GROUP BY 1
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
  FROM fp_src a
  JOIN fp_src b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.source_a, p.source_b,
       CAST(p.n_shared AS BIGINT) AS n_shared,
       CAST(sa.n_shingles AS BIGINT) AS n_a,
       CAST(sb.n_shingles AS BIGINT) AS n_b,
       p.n_shared / CAST(sa.n_shingles + sb.n_shingles - p.n_shared AS DOUBLE)
         AS jaccard
FROM pairs p
JOIN per_source sa ON sa.source = p.source_a
JOIN per_source sb ON sb.source = p.source_b
"""


# P17: dedup scale paths graded vs the exact baseline. Each method's full
# oracle statement (the SAME SQL the driver checks that method against)
# is embedded as a self-contained derived table, so the report's truth
# and predictions can never drift from the graded operators' own oracles.
def _p17_eval_oracle() -> str:
    from .dedup_oracles import DEDUP_ORACLES as _D

    truth = _D["dedup_ngram_jaccard"]
    lshc = _D["dedup_minhash_lsh"]
    banded = _D["dedup_containment_banded"]
    est = _D["dedup_minhash_estimate"]
    snm = _D["dedup_sorted_neighborhood"]
    return f"""
WITH truth AS (SELECT doc_a, doc_b FROM ({truth}) t),
snm AS (SELECT doc_a, doc_b FROM ({snm}) t),
lshc AS (SELECT doc_a, doc_b FROM ({lshc}) t),
banded AS (SELECT doc_a, doc_b FROM ({banded}) t WHERE t.jaccard >= 0.8),
est AS (SELECT doc_a, doc_b FROM ({est}) t),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth),
m AS (
  SELECT 'lsh_candidates' AS method,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lshc) AS n_pred,
         (SELECT n_true FROM nt) AS n_true,
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM lshc JOIN truth USING (doc_a, doc_b)) AS tp
  UNION ALL
  SELECT 'banded_exact',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM banded),
         (SELECT n_true FROM nt),
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM banded JOIN truth USING (doc_a, doc_b))
  UNION ALL
  SELECT 'sketch_estimate',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM est),
         (SELECT n_true FROM nt),
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM est JOIN truth USING (doc_a, doc_b))
  UNION ALL
  SELECT 'snm_exact',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM snm),
         (SELECT n_true FROM nt),
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM snm JOIN truth USING (doc_a, doc_b))
)
SELECT method, n_pred, n_true, tp,
       n_pred - tp AS fp,
       n_true - tp AS fn,
       CASE WHEN n_pred = 0 THEN NULL ELSE tp / n_pred END AS precision,
       CASE WHEN n_true = 0 THEN NULL ELSE tp / n_true END AS recall
FROM m
"""


PIPELINE_ORACLES["dedup_eval_report"] = _p17_eval_oracle()


# P20: multi-epoch mixture plan — shared srcN weight parsing with P7's
# oracle; all-BIGINT epoch arithmetic, one final double division.
PIPELINE_ORACLES["mixture_epoch_plan"] = f"""
WITH per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM({_WS_TOKENS}) AS BIGINT) AS available_tokens
  FROM documents GROUP BY 1
),
srcs AS (
  SELECT source, TRY_CAST(SUBSTR(source, 4) AS BIGINT) % 3 + 1 AS wt
  FROM per_src
),
tw AS (SELECT CAST(SUM(wt) AS BIGINT) AS total_w FROM srcs),
targets AS (
  SELECT source, wt, ({4 * MIXTURE_BUDGET} * wt) // total_w AS target_tokens
  FROM srcs, tw
)
SELECT p.source, t.wt, p.n_docs, p.available_tokens, t.target_tokens,
       t.target_tokens // p.available_tokens AS full_epochs,
       t.target_tokens % p.available_tokens AS remainder_tokens,
       CAST(t.target_tokens AS DOUBLE) / CAST(p.available_tokens AS DOUBLE)
         AS oversample_ratio
FROM per_src p JOIN targets t USING (source)
ORDER BY source
"""


# P30: temperature-scaled mixture at α = 0.5 — milli-sqrt weights
# (FLOOR(1000·SQRT(tokens)), IEEE sqrt correctly rounded in both
# engines), BIGINT shares/targets, exact cross-multiplied boost flag.
PIPELINE_ORACLES["mixture_temperature_plan"] = f"""
WITH per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM({_WS_TOKENS}) AS BIGINT) AS available_tokens
  FROM documents GROUP BY 1
),
weighted AS (
  SELECT *,
         CAST(FLOOR(1000.0 * SQRT(CAST(available_tokens AS DOUBLE)))
           AS BIGINT) AS w_msqrt
  FROM per_src
),
tw AS (
  SELECT CAST(SUM(w_msqrt) AS BIGINT) AS total_w,
         CAST(SUM(available_tokens) AS BIGINT) AS total_tokens
  FROM weighted
)
SELECT source, n_docs, available_tokens, w_msqrt,
       ({4 * MIXTURE_BUDGET} * w_msqrt) // total_w AS target_tokens,
       CAST(w_msqrt AS DOUBLE) * CAST(total_tokens AS DOUBLE)
         > CAST(available_tokens AS DOUBLE) * CAST(total_w AS DOUBLE)
         AS boosted,
       CAST(w_msqrt AS DOUBLE) * CAST(total_tokens AS DOUBLE)
         / (CAST(available_tokens AS DOUBLE) * CAST(total_w AS DOUBLE))
         AS boost_ratio,
       (({4 * MIXTURE_BUDGET} * w_msqrt) // total_w) // available_tokens
         AS full_epochs,
       (({4 * MIXTURE_BUDGET} * w_msqrt) // total_w) % available_tokens
         AS remainder_tokens,
       CAST(({4 * MIXTURE_BUDGET} * w_msqrt) // total_w AS DOUBLE)
         / CAST(available_tokens AS DOUBLE) AS oversample_ratio
FROM weighted CROSS JOIN tw
ORDER BY source
"""


# P21: deterministic export order — md5(doc_id) permutation rank, integer
# shard/offset; hex keys sort identically in ASCII in both engines.
PIPELINE_ORACLES["export_order_plan"] = f"""
WITH keyed AS (
  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS sample_key,
         CAST({_WS_TOKENS} AS BIGINT) AS ws_tokens
  FROM documents
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY sample_key, doc_id) AS BIGINT)
            AS rank
  FROM keyed
)
SELECT doc_id, source, sample_key, ws_tokens, rank,
       CAST((rank - 1) // 256 AS BIGINT) AS shard_id,
       CAST((rank - 1) % 256 AS BIGINT) AS offset
FROM ranked
"""


# P22: near-dup decontamination — bipartite prefix filter (containment
# variant: only the bounded bench side gets a prefix, lexicographic order
# via list_sort), exact array-intersect verification, cross-multiplied
# containment threshold.
PIPELINE_ORACLES["decontaminate_neardup"] = f"""
WITH {CORPUS_CTE},
bench AS (
  SELECT doc_id AS bench_doc_id,
         list_sort({_SHINGLES_SQL}) AS sh_b
  FROM (
    SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
    FROM documents WHERE doc_id % 25 = 0
  ) WHERE len(toks) >= 3
),
prefix AS (
  SELECT bench_doc_id,
         unnest(sh_b[1:GREATEST(1,
           CAST(len(sh_b) - ((80 * len(sh_b) + 99) // 100) + 1 AS BIGINT))])
           AS shingle
  FROM bench
),
train AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh
  FROM (
    SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
    FROM corpus
    WHERE NOT (doc_id < 1000000 AND doc_id % 25 = 0)
  ) WHERE len(toks) >= 3
),
train_sh AS (SELECT doc_id, unnest(sh) AS shingle FROM train),
cand AS (
  SELECT DISTINCT t.doc_id, p.bench_doc_id
  FROM train_sh t JOIN prefix p USING (shingle)
),
scored AS (
  SELECT c.doc_id, c.bench_doc_id,
         CAST(len(list_intersect(tr.sh, b.sh_b)) AS BIGINT) AS n_shared,
         CAST(len(tr.sh) AS BIGINT) AS n_train_shingles,
         CAST(len(b.sh_b) AS BIGINT) AS n_bench_shingles
  FROM cand c
  JOIN train tr ON tr.doc_id = c.doc_id
  JOIN bench b ON b.bench_doc_id = c.bench_doc_id
)
SELECT *,
       n_shared / CAST(n_bench_shingles AS DOUBLE) AS containment_bench
FROM scored
WHERE n_shared * 100 >= 80 * n_bench_shingles
"""


# P32: paragraph-granularity decontamination — D43's para windowing CTE
# (pid packing, fixed PARA_TOKENS windows over the augmented corpus, bench
# originals excluded) composed with P22's bench CTEs, prefix filter flipped
# to bound the PARAGRAPH side (containment(p in b) ≥ t ⟹ smallest common
# shingle within the paragraph's first |p| − ceil(t·|p|) + 1 sorted
# shingles), exact list_intersect verification, per-(doc, bench) rollup.
from ..operators.dedup import (  # noqa: E402
    PARA_KEY as _PARA_KEY,
    PARA_TOKENS as _PARA_TOKENS,
)

PIPELINE_ORACLES["decontaminate_paragraph"] = f"""
WITH {CORPUS_CTE},
ctoks AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM corpus
  WHERE NOT (doc_id < 1000000 AND doc_id % 25 = 0)
),
para AS (
  SELECT doc_id * {_PARA_KEY} + i AS pid,
         toks[(i-1)*{_PARA_TOKENS}+1 : i*{_PARA_TOKENS}] AS toks
  FROM (
    SELECT doc_id, toks,
           unnest(generate_series(1,
             GREATEST(CAST(CEIL(len(toks) / {_PARA_TOKENS}.0) AS INTEGER), 1)
           )) AS i
    FROM ctoks
  )
  WHERE len(toks[(i-1)*{_PARA_TOKENS}+1 : i*{_PARA_TOKENS}]) >= 3
),
psh AS (
  SELECT pid, list_sort({_SHINGLES_SQL}) AS sh_p FROM para
),
bench AS (
  SELECT doc_id AS bench_doc_id, {_SHINGLES_SQL} AS sh_b
  FROM (
    SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
    FROM documents WHERE doc_id % 25 = 0
  ) WHERE len(toks) >= 3
),
bench_idx AS (SELECT bench_doc_id, unnest(sh_b) AS shingle FROM bench),
ppref AS (
  SELECT pid,
         unnest(sh_p[1:GREATEST(1,
           CAST(len(sh_p) - ((80 * len(sh_p) + 99) // 100) + 1 AS BIGINT))])
           AS shingle
  FROM psh
),
cand AS (
  SELECT DISTINCT p.pid, b.bench_doc_id
  FROM ppref p JOIN bench_idx b USING (shingle)
),
verified AS (
  SELECT * FROM (
    SELECT c.pid, c.bench_doc_id,
           CAST(len(list_intersect(ps.sh_p, bn.sh_b)) AS BIGINT) AS n_shared,
           CAST(len(ps.sh_p) AS BIGINT) AS n_para_shingles
    FROM cand c
    JOIN psh ps ON ps.pid = c.pid
    JOIN bench bn ON bn.bench_doc_id = c.bench_doc_id
  ) WHERE n_shared * 100 >= 80 * n_para_shingles
)
SELECT CAST(pid // {_PARA_KEY} AS BIGINT) AS doc_id,
       bench_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_leaked_paras,
       CAST(MIN(pid % {_PARA_KEY}) AS BIGINT) AS first_para,
       MAX(n_shared / CAST(n_para_shingles AS DOUBLE))
         AS max_containment_para
FROM verified GROUP BY 1, 2
"""


# P24: soft dedup at sampling time — per-doc keep rule
# md5(doc_id # text) % n_copies == 0 (pmod; md5 hashes are non-negative so
# % == pmod), per-source token-mass report.
from ..functions.text import CORPUS_CTE as _CORPUS_CTE  # noqa: E402

PIPELINE_ORACLES["mixture_soft_dedup"] = f"""
WITH {_CORPUS_CTE},
keyed AS (
  SELECT doc_id, source, text, md5(text) AS fp,
         CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens
  FROM corpus
),
clusters AS (
  SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_copies FROM keyed GROUP BY 1
),
scored AS (
  SELECT k.*, c.n_copies,
         CASE WHEN {md5_int_sql("concat_ws('#', CAST(doc_id AS VARCHAR), text)", 13)}
                   % c.n_copies = 0
              THEN 1 ELSE 0 END AS kept
  FROM keyed k JOIN clusters c USING (fp)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_docs,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN n_copies >= 2 THEN kept ELSE 0 END) AS BIGINT)
         AS n_dup_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_before,
       CAST(SUM(n_tokens * kept) AS BIGINT) AS tokens_after,
       SUM(CASE WHEN n_copies = 1 THEN 1 - kept ELSE 0 END) = 0
         AS all_unique_kept,
       CAST(SUM(n_tokens * kept) AS DOUBLE) / NULLIF(SUM(n_tokens), 0)
         AS token_kept_share
FROM scored
GROUP BY source
"""


# P25/P26: DSIR hashed-ngram importance weights + exact top-k resample.
# Constants imported from the operator so the bucket count / target slice /
# k can never diverge between engines.
from ..operators.pipeline import DSIR_BUCKETS, DSIR_TARGET_LANG, DSIR_TOPK

def dsir_weight_ctes(src_table: str) -> str:
    """The P25 hashed-bag LLR chain (tok → per_doc_bucket → bucket_stats
    → totals → llr → weights) over an arbitrary source relation — ONE
    arithmetic definition for P25/P26 (over ``documents``) and the P27
    funnel stage (over the augmented ``corpus``)."""
    return f"""tok AS (
  SELECT doc_id, source, lang,
         unnest(regexp_split_to_array(text, '\\s+')) AS token
  FROM {src_table}
),
per_doc_bucket AS (
  SELECT doc_id, source, lang,
         {md5_int_sql("token", 4)} % {DSIR_BUCKETS} AS bucket,
         COUNT(*) AS c
  FROM tok GROUP BY 1, 2, 3, 4
),
bucket_stats AS (
  SELECT bucket,
         SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN c ELSE 0 END) AS t_b,
         SUM(c) AS r_b
  FROM per_doc_bucket GROUP BY 1
),
totals AS (
  SELECT SUM(t_b) AS t_total, SUM(r_b) AS r_total FROM bucket_stats
),
llr AS (
  SELECT bucket,
         (CAST((t_b + 1) * (r_total + {DSIR_BUCKETS}) AS BIGINT)
          - CAST((r_b + 1) * (t_total + {DSIR_BUCKETS}) AS BIGINT)) * 1000
         // CAST((r_b + 1) * (t_total + {DSIR_BUCKETS}) AS BIGINT)
           AS llr_milli
  FROM bucket_stats CROSS JOIN totals
),
weights AS (
  SELECT doc_id, source, lang,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(SUM(c * llr_milli) AS BIGINT) AS dsir_milli
  FROM per_doc_bucket JOIN llr USING (bucket)
  GROUP BY 1, 2, 3
)"""


_DSIR_WEIGHT_CTES = "WITH " + dsir_weight_ctes("documents")

PIPELINE_ORACLES["dsir_importance_weights"] = f"""
{_DSIR_WEIGHT_CTES}
SELECT doc_id, source, lang, n_tokens, dsir_milli,
       CAST(CASE WHEN dsir_milli > 0 THEN 1 ELSE 0 END AS INT) AS target_like,
       dsir_milli // n_tokens AS mean_milli
FROM weights
"""

PIPELINE_ORACLES["dsir_topk_sample"] = f"""
{_DSIR_WEIGHT_CTES},
ranked AS (
  SELECT doc_id, source, lang, n_tokens, dsir_milli,
         CAST(ROW_NUMBER() OVER (ORDER BY dsir_milli DESC, doc_id) AS BIGINT)
           AS rank
  FROM weights
)
SELECT doc_id, source, lang, n_tokens, dsir_milli, rank
FROM ranked WHERE rank <= {DSIR_TOPK}
"""


# P27: the funnel composed with the span-scrub mass stage (D35's driver
# SQL embedded verbatim as a nested WITH — the D37 pattern) and the DSIR
# target gate (the shared weight-CTE builder over the augmented corpus).
from .dedup_oracles import DEDUP_ORACLES as _DEDUP_ORACLES

PIPELINE_ORACLES["corpus_curation_pipeline_v3"] = (
    _BANDED_CC_CTES
    + _FUNNEL_STAGES
    + f""",
scrub AS (
{_DEDUP_ORACLES["dedup_repeated_spans_scrub"]}
),
s4 AS (
  SELECT s3.doc_id,
         s3.n_tokens - COALESCE(sc.n_scrubbed, 0) AS n_tokens_clean
  FROM s3 LEFT JOIN scrub sc ON s3.doc_id = sc.doc_id
  WHERE s3.n_tokens - COALESCE(sc.n_scrubbed, 0) > 0
),
{dsir_weight_ctes("corpus")},
s5 AS (
  SELECT s4.* FROM s4 JOIN weights w ON s4.doc_id = w.doc_id
  WHERE w.dsir_milli > 0
)"""
    + _FUNNEL_SELECT
    + """UNION ALL
SELECT '4_span_scrub', COUNT(*), CAST(SUM(n_tokens_clean) AS BIGINT) FROM s4
UNION ALL
SELECT '5_dsir_target', COUNT(*), CAST(SUM(n_tokens_clean) AS BIGINT) FROM s5
"""
)


# P31: decontamination-family evaluation report — the three gates' own
# oracle SQL embedded verbatim as derived tables (the D37/P27 nested-WITH
# convention), graded per gate against its planted leak class.
from .dedup_oracles import DEDUP_ORACLES as _DEDUP_ORACLES_P31  # noqa: E402
from ..operators.similarity import (  # noqa: E402
    DECON_BENCH_HI as _P31_BENCH_HI,
    PLANT_OFFSET as _P31_PLANT,
)

PIPELINE_ORACLES["decontaminate_eval_report"] = f"""
WITH g_ngram AS (
{PIPELINE_ORACLES["decontaminate"]}
),
g_neardup AS (
{PIPELINE_ORACLES["decontaminate_neardup"]}
),
g_sem AS (
{_DEDUP_ORACLES_P31["decontaminate_semantic"]}
),
g_para AS (
{PIPELINE_ORACLES["decontaminate_paragraph"]}
),
exp_text AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_plants_expected
  FROM documents
  WHERE doc_id % 25 = 0 AND len(regexp_split_to_array(text, '\\s+')) >= 3
),
exp_sem AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_plants_expected
  FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < {_P31_BENCH_HI}
),
rows_g AS (
  SELECT 'ngram' AS gate,
         CAST(COUNT(*) AS BIGINT) AS n_flagged,
         (SELECT n_plants_expected FROM exp_text) AS n_plants_expected,
         CAST(COALESCE(SUM(CASE WHEN doc_id >= 1000000 AND doc_id < 2000000
                                THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_plants_caught
  FROM g_ngram WHERE contaminated
  UNION ALL
  SELECT 'neardup',
         CAST(COUNT(*) AS BIGINT),
         (SELECT n_plants_expected FROM exp_text),
         CAST(COALESCE(SUM(CASE WHEN doc_id >= 1000000 AND doc_id < 2000000
                                THEN 1 ELSE 0 END), 0) AS BIGINT)
  FROM (SELECT DISTINCT doc_id FROM g_neardup)
  UNION ALL
  SELECT 'paragraph',
         CAST(COUNT(*) AS BIGINT),
         (SELECT n_plants_expected FROM exp_text),
         CAST(COALESCE(SUM(CASE WHEN doc_id >= 1000000 AND doc_id < 2000000
                                THEN 1 ELSE 0 END), 0) AS BIGINT)
  FROM (SELECT DISTINCT doc_id FROM g_para)
  UNION ALL
  SELECT 'semantic',
         CAST(COUNT(*) AS BIGINT),
         (SELECT n_plants_expected FROM exp_sem),
         CAST(COALESCE(SUM(CASE WHEN vec_id >= {_P31_PLANT}
                                AND vec_id - {_P31_PLANT} < {_P31_BENCH_HI}
                                THEN 1 ELSE 0 END), 0) AS BIGINT)
  FROM g_sem
)
SELECT gate, n_flagged, n_plants_expected, n_plants_caught,
       CAST(n_plants_caught AS DOUBLE) / NULLIF(n_plants_expected, 0)
         AS plant_recall,
       n_flagged - n_plants_caught AS n_other_flagged
FROM rows_g
ORDER BY gate
"""
