"""LLM-corpus curation surface, wave 6: the published curation recipes
that sit between raw crawl and tokenizer-ready text.

The reference (`/root/reference/`) has no text tier at all — this module
extends the training-data north star (BASELINE.json) with the
Spark-first forms of specific published techniques:

- ``td_line_dedup``      — paragraph-granular exact dedup with global
  first-occurrence-wins and document reassembly (CCNet, Wenzek et al.
  2019; RefinedWeb runs the same line-level pass).
- ``td_gopher_repetition`` — within-document repetition signals
  (duplicate / most-common n-gram character fractions) from Gopher's
  quality heuristics (Rae et al. 2021, table A1).
- ``td_naive_bayes_quality`` — model-based quality scoring: a
  multinomial Naive-Bayes classifier trained on a curated-vs-crawl
  split of the corpus itself, scoring every document by log-odds
  (the GPT-3 / CCNet "reference corpus classifier" pattern, with NB's
  closed-form training replacing the logistic regression so training
  is one aggregation pass, not an iterative fit).
- ``td_bpe_train`` / ``td_bpe_encode`` — byte-pair-encoding merge
  training (Sennrich et al. 2016) over the word-frequency table, each
  merge one count-pairs → argmax → apply round, unrolled into a strict
  DuckDB replay oracle; encoding applies the merges through the
  distinct-word table and reports tokens-per-word fertility.
- ``td_pq_ann``          — product-quantization ANN with asymmetric
  distance computation (Jégou et al. 2011), tier 4 of the search
  ladder (operators/similarity.py).
- ``td_heavy_hitters``   — bounded-memory exact frequent tokens via
  weighted Misra-Gries candidates + exact verify
  (operators/profile.py).
- ``td_leakage_safe_split`` — near-dup-cluster-granular train/val
  assignment (no cross-split contamination).
- ``td_incremental_minhash`` — near-dup maintenance against a
  persisted signature store (the store is never re-shingled).
- ``rel_entity_resolution`` — blocking → fuzzy verify → connected
  components → survivorship golden record.
- ``td_sketch_overlap``  — HLL inclusion-exclusion distinct overlap
  with exact anchors.

Every float output is a ratio/log of integers rounded to 6 decimals
(the house float discipline: see td_unigram_logprob); td_bpe_train and
td_line_dedup are integer/string-only and hash-exact by construction.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from busdata_pipeline_spark.plans.registry import query
from busdata_pipeline_spark.scratch import scratch_dir
from busdata_pipeline_spark.sources import table

# ---------------------------------------------------------------------------
# paragraph-granular exact dedup (CCNet / RefinedWeb line dedup)

#: tokens per paragraph window.  The synthetic corpus is single-spaced
#: prose with no newlines, so the paragraph unit is a fixed token window
#: (on real crawl text this constant is replaced by a split on '\n').
_PARA_TOKENS = 8


@query(
    "td_line_dedup",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
paras AS (
  SELECT doc_id, CAST(i AS INTEGER) AS para_idx,
         array_to_string(
           list_slice(toks, i * {_PARA_TOKENS} + 1,
                      i * {_PARA_TOKENS} + {_PARA_TOKENS}), ' ') AS para
  FROM (SELECT doc_id, toks,
               unnest(range(0, CAST(ceil(len(toks) / {_PARA_TOKENS}.0)
                                    AS BIGINT))) AS i
        FROM tk) q),
keep AS (
  SELECT doc_id, para_idx, para,
         ROW_NUMBER() OVER (PARTITION BY md5(para)
                            ORDER BY doc_id, para_idx) AS rn
  FROM paras),
kept AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(para, ' ' ORDER BY para_idx) AS kept_text
  FROM keep WHERE rn = 1 GROUP BY doc_id),
np AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras
       FROM paras GROUP BY doc_id)
SELECT np.doc_id, np.n_paras,
       COALESCE(kept.n_kept, 0) AS n_kept,
       COALESCE(kept.kept_text, '') AS kept_text
FROM np LEFT JOIN kept USING (doc_id)
""",
)
def td_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup with reassembly (CCNet, Wenzek et al.
    2019 §3.1): split every document into paragraph units, keep only the
    globally FIRST occurrence of each distinct paragraph (ordered by
    (doc_id, para_idx) — deterministic, engine-independent), then
    reassemble each document from its surviving paragraphs in original
    order.  This is the pass that removes boilerplate (headers, cookie
    banners) that exact *document* dedup cannot touch.

    Scale shape: paragraphs never cross documents, so the explode is a
    projection; the only shuffle keys on md5(paragraph) — a 32-char hash,
    not the paragraph text, so the exchange comparator cost is flat in
    paragraph length; reassembly is one doc_id-keyed aggregation with an
    in-group sort (array_sort on (idx, text) structs — no second window).
    First-occurrence-wins needs a total order over occurrences, which
    (doc_id, para_idx) provides without any global sort."""
    return line_dedup_frame(table(spark, sf_dir, "documents"))


def line_dedup_frame(docs: DataFrame,
                     para_tokens: int = _PARA_TOKENS) -> DataFrame:
    """Core of td_line_dedup over any (doc_id, text) frame."""
    toks = F.split(F.trim(F.col("text")), " ")
    n_paras = F.ceil(F.size(toks) / F.lit(float(para_tokens))).cast("int")
    paras_arr = F.transform(
        F.sequence(F.lit(0), n_paras - 1),
        lambda i: F.array_join(
            F.slice(toks, i * para_tokens + 1, para_tokens), " "
        ),
    )
    p = docs.select(
        "doc_id", F.posexplode(paras_arr).alias("para_idx", "para")
    )
    w = Window.partitionBy(F.md5("para")).orderBy("doc_id", "para_idx")
    keep = p.withColumn("rn", F.row_number().over(w))
    kept = (
        keep.where(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("para_idx", "para"))),
                    lambda x: x["para"],
                ),
                " ",
            ).alias("kept_text"),
        )
    )
    np_ = p.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_paras"))
    return np_.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_paras",
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        F.coalesce("kept_text", F.lit("")).alias("kept_text"),
    )


# ---------------------------------------------------------------------------
# Gopher repetition signals (Rae et al. 2021)


def _grams(toks: Column, n: int) -> Column:
    """Overlapping token n-grams as space-joined strings; empty array
    when the document has fewer than ``n`` tokens (zip_with of
    slice-shortened arrays — no sequence() call that could go negative).
    """
    parts = [F.slice(toks, 1 + i, F.greatest(F.size(toks) - n + 1, F.lit(0)))
             for i in range(n)]
    out = parts[0]
    for nxt in parts[1:]:
        out = F.zip_with(out, nxt, lambda a, b: F.concat_ws(" ", a, b))
    return out


def _gopher_gram_oracle(n: int, label: str) -> str:
    """Per-doc duplicate-gram and top-gram character fractions for one n."""
    return f"""
g{label} AS (
  SELECT doc_id,
         array_to_string(list_slice(toks, i, i + {n - 1}), ' ') AS gram
  FROM (SELECT doc_id, toks,
               unnest(range(1, len(toks) - {n} + 2)) AS i
        FROM tk) q{label}),
c{label} AS (
  SELECT doc_id, gram, COUNT(*) AS occ, length(gram) AS glen
  FROM g{label} GROUP BY doc_id, gram),
a{label} AS (
  SELECT doc_id,
         SUM(CASE WHEN occ > 1 THEN (occ - 1) * glen ELSE 0 END) AS dup_chars,
         MAX(occ * glen) AS top_chars
  FROM c{label} GROUP BY doc_id)"""


@query(
    "td_gopher_repetition",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, length(trim(text)) AS total_chars,
         string_split(trim(text), ' ') AS toks
  FROM documents),
{_gopher_gram_oracle(2, "2")},
{_gopher_gram_oracle(3, "3")}
SELECT tk.doc_id,
  ROUND(COALESCE(a2.dup_chars, 0) / CAST(tk.total_chars AS DOUBLE), 6)
    AS dup_2gram_frac,
  ROUND(COALESCE(a3.dup_chars, 0) / CAST(tk.total_chars AS DOUBLE), 6)
    AS dup_3gram_frac,
  ROUND(COALESCE(a2.top_chars, 0) / CAST(tk.total_chars AS DOUBLE), 6)
    AS top_2gram_frac,
  (COALESCE(a2.dup_chars, 0) / CAST(tk.total_chars AS DOUBLE) > 0.20
   OR COALESCE(a3.dup_chars, 0) / CAST(tk.total_chars AS DOUBLE) > 0.18)
    AS repetitive
FROM tk
LEFT JOIN a2 ON tk.doc_id = a2.doc_id
LEFT JOIN a3 ON tk.doc_id = a3.doc_id
""",
)
def td_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals from Gopher's quality rules
    (Rae et al. 2021, appendix A1): per document, the fraction of
    characters contained in DUPLICATE token n-grams (each occurrence
    beyond the first counts its characters — the Dolma/DataTrove
    formulation of the rule) for n=2,3, the fraction covered by the
    single most frequent 2-gram, and the combined reject flag at the
    paper's thresholds (dup-2gram > 0.20, dup-3gram > 0.18).

    Scale shape: n-grams are built by zip_with over slice-aligned token
    arrays (a projection — no join, no window); the only shuffle is the
    (doc_id, gram) hash aggregate, whose map-side partial collapses
    every repeated gram before it travels.  Fractions are ratios of
    integer character counts, rounded to 6 (house float discipline)."""
    return gopher_repetition_frame(table(spark, sf_dir, "documents"))


def gopher_repetition_frame(docs: DataFrame) -> DataFrame:
    """Core of td_gopher_repetition over any (doc_id, text) frame."""
    toks = F.split(F.trim(F.col("text")), " ")
    base = docs.select(
        "doc_id",
        F.length(F.trim(F.col("text"))).alias("total_chars"),
        toks.alias("toks"),
    )

    def gram_agg(n: int) -> DataFrame:
        g = base.select(
            "doc_id", F.explode(_grams(F.col("toks"), n)).alias("gram")
        )
        c = g.groupBy("doc_id", "gram").agg(
            F.count(F.lit(1)).alias("occ"), F.length("gram").alias("glen")
        )
        return c.groupBy("doc_id").agg(
            F.sum(
                F.when(F.col("occ") > 1, (F.col("occ") - 1) * F.col("glen"))
                .otherwise(F.lit(0))
            ).alias("dup_chars"),
            F.max(F.col("occ") * F.col("glen")).alias("top_chars"),
        )

    a2 = gram_agg(2).withColumnRenamed("dup_chars", "dup2").withColumnRenamed(
        "top_chars", "top2"
    )
    a3 = gram_agg(3).select(
        "doc_id", F.col("dup_chars").alias("dup3")
    )
    tc = F.col("total_chars").cast("double")
    dup2 = F.coalesce("dup2", F.lit(0)) / tc
    dup3 = F.coalesce("dup3", F.lit(0)) / tc
    top2 = F.coalesce("top2", F.lit(0)) / tc
    return (
        base.select("doc_id", "total_chars")
        .join(a2, "doc_id", "left")
        .join(a3, "doc_id", "left")
        .select(
            "doc_id",
            F.round(dup2, 6).alias("dup_2gram_frac"),
            F.round(dup3, 6).alias("dup_3gram_frac"),
            F.round(top2, 6).alias("top_2gram_frac"),
            ((dup2 > 0.20) | (dup3 > 0.18)).alias("repetitive"),
        )
    )


# ---------------------------------------------------------------------------
# model-based quality scoring (GPT-3 / CCNet reference-corpus classifier)

#: the "curated reference" slice of the corpus — the role WebText plays
#: in GPT-3's quality filter: documents from these sources are the
#: positive training class, everything else is the crawl class.
_CURATED_SOURCES = ("src0", "src1", "src2", "src3")


@query(
    "td_naive_bayes_quality",
    # Float discipline: every log argument is a positive INTEGER
    # ((count+1), (N+V), doc counts), the per-doc sum is two SUM(c*ln(int))
    # terms (same shape td_unigram_logprob ships strict), and the final
    # score is rounded to 6 with the boundary margin measured in tests.
    oracle=f"""
WITH lab AS (
  SELECT doc_id, text,
         source IN {str(tuple(_CURATED_SOURCES))} AS pos
  FROM documents),
toks AS (
  SELECT doc_id, pos, unnest(string_split(trim(text), ' ')) AS tok
  FROM lab),
dt AS (SELECT doc_id, tok, COUNT(*) AS c_dt FROM toks GROUP BY doc_id, tok),
ct AS (
  SELECT tok,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
         CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
  FROM toks GROUP BY tok),
tot AS (
  SELECT CAST(SUM(c_pos) AS BIGINT) AS n_pos,
         CAST(SUM(c_neg) AS BIGINT) AS n_neg,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM ct),
prior AS (
  SELECT ln(CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE))
         - ln(CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS DOUBLE)) AS lp
  FROM lab)
SELECT dt.doc_id,
  CAST(SUM(c_dt) AS BIGINT) AS n_tokens,
  ROUND(SUM(c_dt * ln(CAST(c_pos + 1 AS DOUBLE)))
        - SUM(c_dt * ln(CAST(c_neg + 1 AS DOUBLE)))
        - SUM(c_dt) * ln(CAST(MIN(n_pos + v) AS DOUBLE))
        + SUM(c_dt) * ln(CAST(MIN(n_neg + v) AS DOUBLE))
        + MIN(lp), 6) AS log_odds
FROM dt JOIN ct USING (tok) CROSS JOIN tot CROSS JOIN prior
GROUP BY dt.doc_id
""",
)
def td_naive_bayes_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (the GPT-3 appendix-A pattern: train a
    classifier to separate a curated reference corpus from raw crawl,
    keep crawl documents the model scores reference-like).  The model is
    multinomial Naive Bayes with add-1 smoothing — NB because its
    training is a single token-count aggregation (closed form), so the
    whole train+score pipeline is two shuffles and needs no iterative
    optimizer:

        score(d) = Σ_t c_dt·[ln(c_pos(t)+1) − ln(c_neg(t)+1)]
                   − n_d·[ln(N_pos+V) − ln(N_neg+V)] + ln(P_pos/P_neg)

    Scale shape: one exploded token pass feeds both the per-doc and
    per-class count aggregates (the training pass IS a groupBy); they
    meet in a fact-fact equi-join on token; the 1-row totals/prior are
    broadcast scalar expansions (whitelisted in the plan lint).  Every
    log argument is an integer, so the only cross-engine float risk is
    summation order, absorbed by ROUND(_, 6) with a measured margin."""
    return naive_bayes_frame(table(spark, sf_dir, "documents"))


def naive_bayes_frame(
    docs: DataFrame, curated: tuple[str, ...] = _CURATED_SOURCES
) -> DataFrame:
    """Core of td_naive_bayes_quality over any (doc_id, text, source)."""
    lab = docs.select(
        "doc_id",
        "text",
        F.col("source").isin(*curated).alias("pos"),
    )
    toks = lab.select(
        "doc_id", "pos",
        F.explode(F.split(F.trim("text"), " ")).alias("tok"),
    )
    dt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c_dt"))
    ct = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("c_pos"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).alias("c_neg"),
    )
    tot = ct.agg(
        F.sum("c_pos").alias("n_pos"),
        F.sum("c_neg").alias("n_neg"),
        F.count(F.lit(1)).alias("v"),
    )
    prior = lab.agg(
        (
            F.log(F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("double"))
            - F.log(F.sum(F.when(F.col("pos"), 0).otherwise(1)).cast("double"))
        ).alias("lp")
    )
    return (
        dt.join(ct, "tok")
        .join(F.broadcast(tot))
        .join(F.broadcast(prior))
        .groupBy("doc_id")
        .agg(
            F.sum("c_dt").alias("n_tokens"),
            F.round(
                F.sum(F.col("c_dt") * F.log((F.col("c_pos") + 1).cast("double")))
                - F.sum(F.col("c_dt") * F.log((F.col("c_neg") + 1).cast("double")))
                - F.sum("c_dt") * F.log(F.max(F.col("n_pos") + F.col("v")).cast("double"))
                + F.sum("c_dt") * F.log(F.max(F.col("n_neg") + F.col("v")).cast("double"))
                + F.min("lp"),
                6,
            ).alias("log_odds"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR importance weighting (Xie et al., NeurIPS 2023 — "Data Selection
# for Language Models via Importance Resampling")

#: documents selected by the deterministic resampling step.
_DSIR_QUOTA = 100


@query(
    "td_dsir_weights",
    # Float discipline: add-1 smoothing keeps every log argument a
    # positive INTEGER; the per-doc sum is ROUND(_, 6) with the margin
    # measured in tests; the selection rank orders by the ROUNDED weight
    # with doc_id tie-break, so both engines rank identical values.
    oracle=f"""
WITH lab AS (
  SELECT doc_id, text,
         source IN {str(tuple(_CURATED_SOURCES))} AS tgt
  FROM documents),
toks AS (
  SELECT doc_id, tgt, unnest(string_split(trim(text), ' ')) AS tok
  FROM lab),
tk AS (SELECT * FROM toks WHERE tok <> ''),
dt AS (SELECT doc_id, tok, COUNT(*) AS c_dt FROM tk GROUP BY doc_id, tok),
ct AS (
  SELECT tok,
         CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
         CAST(COUNT(*) AS BIGINT) AS c_r
  FROM tk GROUP BY tok),
sc AS (
  SELECT CAST(SUM(c_t) AS BIGINT) AS n_t,
         CAST(SUM(c_r) AS BIGINT) AS n_r,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM ct),
w AS (
  SELECT doc_id,
    CAST(SUM(c_dt) AS BIGINT) AS n_tokens,
    ROUND(SUM(c_dt * (ln(CAST(c_t + 1 AS DOUBLE))
                      - ln(CAST(c_r + 1 AS DOUBLE)))) / SUM(c_dt)
          + ln(CAST(MIN(n_r + v) AS DOUBLE))
          - ln(CAST(MIN(n_t + v) AS DOUBLE)), 6) + 0.0 AS logw
  FROM dt JOIN ct USING (tok) CROSS JOIN sc
  GROUP BY doc_id)
SELECT doc_id, n_tokens, logw,
  CAST(ROW_NUMBER() OVER (ORDER BY logw DESC, doc_id) AS INT)
    <= {_DSIR_QUOTA} AS selected
FROM w
""",
)
def td_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): score every raw document
    by the log importance ratio between a TARGET unigram LM (trained on
    the curated sources — the same reference corpus the NB quality
    classifier uses) and the RAW-pool unigram LM, then keep the
    top-quota by weight — importance resampling toward the target
    distribution, the closed-form alternative to classifier-based
    filtering (td_naive_bayes_quality) that DSIR shows matches it:

        logw(d) = (1/n_d)·Σ_t c_dt·[ln(c_t^tgt+1) − ln(c_t^raw+1)]
                  + ln(N_raw+V) − ln(N_tgt+V)

    (per-token normalization so long documents aren't favored; add-1
    smoothing over the SHARED vocabulary, so both LMs are defined on
    every token).  The paper hashes n-grams into a fixed feature space
    before counting; with the oracle needing exact token identity this
    uses the unhashed unigram bag — the hashed variant is the same plan
    with ``xxhash64(tok) % B`` as the grouping key.

    Scale shape: identical to the NB scorer — one exploded token pass
    feeds per-doc and per-corpus counts, a fact-fact token equi-join,
    1-row broadcast scalars, and the final quota is one
    TakeOrderedAndProject-sized window over doc-cardinality rows.  The
    selection rank uses the ROUNDED weight (+ doc_id) so the
    engine-order float residue cannot flip it (margin pinned in
    tests/test_llm_corpus.py)."""
    docs = table(spark, sf_dir, "documents")
    lab = docs.select(
        "doc_id", "text",
        F.col("source").isin(*_CURATED_SOURCES).alias("tgt"),
    )
    toks = lab.select(
        "doc_id", "tgt",
        F.explode(F.split(F.trim("text"), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    dt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c_dt"))
    ct = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("tgt"), 1).otherwise(0)).alias("c_t"),
        F.count(F.lit(1)).alias("c_r"),
    )
    sc = ct.agg(
        F.sum("c_t").alias("n_t"),
        F.sum("c_r").alias("n_r"),
        F.count(F.lit(1)).alias("v"),
    )
    w = (
        dt.join(ct, "tok")
        .join(F.broadcast(sc))
        .groupBy("doc_id")
        .agg(
            F.sum("c_dt").alias("n_tokens"),
            F.round(
                F.sum(
                    F.col("c_dt")
                    * (F.log((F.col("c_t") + 1).cast("double"))
                       - F.log((F.col("c_r") + 1).cast("double")))
                ) / F.sum("c_dt")
                + F.log(F.min(F.col("n_r") + F.col("v")).cast("double"))
                - F.log(F.min(F.col("n_t") + F.col("v")).cast("double")),
                6,
            ).alias("logw"),
        )
    )
    sel = Window.orderBy(F.desc("logw"), F.asc("doc_id"))
    return w.select(
        "doc_id", "n_tokens", "logw",
        (F.row_number().over(sel) <= _DSIR_QUOTA).alias("selected"),
    )


# ---------------------------------------------------------------------------
# BPE merge training (Sennrich et al. 2016)

#: number of merges to learn.  Six keeps the unrolled SQL replay oracle
#: readable while exercising the interesting case (later merges pairing
#: symbols that earlier merges created).
_BPE_MERGES = 6


def _bpe_steps_sql(n_merges: int) -> tuple[str, str, list[str]]:
    """Shared unrolled DuckDB replay of the merge loop: each step counts
    adjacent symbol pairs weighted by word frequency, picks the argmax
    (ties: lexicographic smallest pair — both engines compare ASCII
    strings identically), and applies the merge by string replacement on
    the ``<sym>``-wrapped sequence encoding.  ``replace`` is
    left-to-right non-overlapping in BOTH engines, which is exactly
    BPE's greedy pairing ('aaaa' + merge (a,a) → '(aa)(aa)').

    Returns (WITH-clause body, final seq-CTE name, per-step best-row
    selects)."""
    steps = []
    prev = "s0"
    finals = []
    for i in range(1, n_merges + 1):
        steps.append(f"""
p{i} AS (
  SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT freq, word, sym AS a,
           LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS b
    FROM (SELECT freq, word,
                 unnest(syms) AS sym, generate_subscripts(syms, 1) AS pos
          FROM (SELECT freq, word,
                       string_split(substring(seq, 2, length(seq) - 2),
                                    '><') AS syms
                FROM {prev}) q1) q2) q3
  WHERE b IS NOT NULL GROUP BY a, b),
b{i} AS (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1),
s{i} AS (
  SELECT word, freq,
         replace(seq, '<' || a || '><' || b || '>',
                 '<' || a || ' ' || b || '>') AS seq
  FROM {prev} CROSS JOIN b{i})""")
        finals.append(
            f"SELECT {i} AS step, a AS lhs, b AS rhs, cnt AS pair_count FROM b{i}"
        )
        prev = f"s{i}"
    body = f"""words AS MATERIALIZED (
  SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents),
wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       FROM words GROUP BY word),
s0 AS (
  SELECT word, freq,
         array_to_string(
           list_transform(string_split(word, ''), c -> '<' || c || '>'),
           '') AS seq
  FROM wf),{",".join(steps)}"""
    return body, prev, finals


def _bpe_oracle(n_merges: int) -> str:
    body, _, finals = _bpe_steps_sql(n_merges)
    return f"WITH {body}\n{' UNION ALL '.join(finals)}\n"


def _bpe_encode_oracle(n_merges: int) -> str:
    """Replay training, then tokenize the corpus with the final merge
    state: per-word BPE token count = symbol count of its final seq."""
    body, last, _ = _bpe_steps_sql(n_merges)
    return f"""
WITH {body},
tokc AS (
  SELECT word,
         CAST(len(string_split(substring(seq, 2, length(seq) - 2),
                               '><')) AS BIGINT) AS n_bpe
  FROM {last}),
docw AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
  FROM documents)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS ws_tokens,
       CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
       ROUND(CAST(SUM(n_bpe) AS DOUBLE) / COUNT(*), 6) AS tokens_per_word
FROM docw JOIN tokc USING (word)
GROUP BY doc_id
"""


@query("td_bpe_encode", oracle=_bpe_encode_oracle(_BPE_MERGES))
def td_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION — the other half of td_bpe_train: encode
    the corpus with the learned merges and report per-document BPE token
    counts and the tokens-per-word fertility ratio (the metric tokenizer
    builders actually monitor).  Encoding cost at 100 TB: the merge
    state lives on the DISTINCT-WORD table, so documents join to their
    words' token counts through one fact-fact equi-join on word — the
    corpus text itself is re-tokenized nowhere; fertility is a ratio of
    integer counts (round-6 exact)."""
    docs = table(spark, sf_dir, "documents")
    _, cur = _bpe_learn(spark, docs, _BPE_MERGES)
    tokc = cur.select(
        "word",
        F.size(
            F.split(F.expr("substring(seq, 2, length(seq) - 2)"), "><")
        ).cast("long").alias("n_bpe"),
    )
    docw = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), " ")).alias("word")
    )
    return (
        docw.join(tokc, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("ws_tokens"),
            F.sum("n_bpe").alias("bpe_tokens"),
            F.round(
                F.sum("n_bpe").cast("double") / F.count(F.lit(1)), 6
            ).alias("tokens_per_word"),
        )
    )


@query("td_bpe_train", oracle=_bpe_oracle(_BPE_MERGES))
def td_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge training (Sennrich et al. 2016) — the
    tokenizer-building step of an LLM data pipeline, run distributedly:
    train on the word-frequency table (the classical formulation: pair
    counts weighted by word frequency), learn ``_BPE_MERGES`` merges,
    return the merge table (step, lhs, rhs, pair_count).

    Per round: adjacent symbol pairs come from zip_with over the
    slice-shifted symbol array (a projection), pair counts are one hash
    aggregate over (a, b) weighted by word freq, the argmax is a 1-row
    bounded driver collect (cnt DESC, then lexicographic pair — the
    deterministic tie-break both engines share), and the merge applies
    as a single string ``replace`` on the ``<sym>`` wrapped encoding
    (left-to-right non-overlapping in Spark and DuckDB alike — BPE's
    greedy pairing).  The working set is the DISTINCT-WORD table, not
    the corpus: at 100 TB the vocabulary is ~10⁵–10⁶ rows, so each of
    the N rounds is an aggregate over a dimension-sized table, and
    ``localCheckpoint`` per round keeps the growing replace-chain plan
    O(1) (same loop discipline as operators/clustering.py).  The corpus
    itself is touched exactly once (the word-count aggregate).

    Oracle: full unrolled replay — each merge step re-derived in SQL,
    so the DRIVER verifies training itself, not just the final state
    (same contract as td_ivf_ann's Lloyd replay)."""
    return bpe_train_frame(spark, table(spark, sf_dir, "documents"))


def bpe_train_frame(
    spark: SparkSession, docs: DataFrame, n_merges: int = _BPE_MERGES
) -> DataFrame:
    """Core of td_bpe_train over any (doc_id, text) frame."""
    rows, _ = _bpe_learn(spark, docs, n_merges)
    return spark.createDataFrame(
        rows, "step int, lhs string, rhs string, pair_count bigint"
    )


def _bpe_learn(
    spark: SparkSession, docs: DataFrame, n_merges: int
) -> tuple[list[tuple], DataFrame]:
    """Run the merge loop; returns (merge rows, final word-seq frame
    (word, freq, seq)) so encoding can reuse the trained state."""
    wf = (
        docs.select(F.explode(F.split(F.trim("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    seq0 = F.concat_ws(
        "",
        F.transform(
            F.split(F.col("word"), ""),
            lambda c: F.concat(F.lit("<"), c, F.lit(">")),
        ),
    )
    cur = wf.select("word", "freq", seq0.alias("seq")).localCheckpoint(eager=True)

    rows = []
    for step in range(1, n_merges + 1):
        syms = F.split(
            F.expr("substring(seq, 2, length(seq) - 2)"), "><"
        )
        sz = F.size(syms)
        pairs_arr = F.zip_with(
            F.slice(syms, 1, sz - 1),
            F.slice(syms, 2, sz - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        )
        pair_counts = (
            cur.select("freq", F.explode(pairs_arr).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pair_counts.orderBy(
            F.desc("cnt"), F.asc("a"), F.asc("b")
        ).limit(1).collect()[0]
        rows.append((step, best["a"], best["b"], int(best["cnt"])))
        # No per-round checkpoint (round-12, guide §5): the merge count
        # is FIXED and small, so the accumulated replace chain is a
        # bounded n_merges-deep PROJECTION over the one checkpointed
        # word table — re-evaluating k cheap string replaces per round
        # beats materializing the vocab table every round (measured
        # 2.0 -> 1.5 s at sf0.1, identical merge rows).  Checkpoint-
        # per-round remains the rule for UNBOUNDED loops
        # (operators/clustering.py).
        cur = cur.withColumn(
            "seq",
            F.replace(
                F.col("seq"),
                F.lit(f"<{best['a']}><{best['b']}>"),
                F.lit(f"<{best['a']} {best['b']}>"),
            ),
        )

    return rows, cur


# ---------------------------------------------------------------------------
# product-quantization ANN (Jégou et al. 2011) — tier 4 of the search
# ladder (brute force → LSH → IVF → PQ), completing the
# similarity-search inventory with the compressed-domain scan.

_PQ_M = 4        #: subspaces
_PQ_KSUB = 4     #: centroids per subspace
_PQ_DIM = 64
_PQ_ITER = 2     #: Lloyd iterations per sub-quantizer


def _pq_oracle(m: int = _PQ_M, ksub: int = _PQ_KSUB, dim: int = _PQ_DIM,
               k: int = 10) -> str:
    """Full SQL replay of the PQ pipeline: per-subspace Lloyd training
    (lowest-id init, 2^-20-quantized means — the td_ivf_ann discipline,
    under squared-L2 assignment with the ties→lowest-centroid rule),
    corpus encoding, per-query distance tables, ADC ranking."""
    dsub = dim // m
    parts = []
    for mi in range(m):
        lo, hi = mi * dsub + 1, mi * dsub + dsub
        assign = (
            "ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY "
            "list_dot_product(cb.cv, cb.cv) "
            "- 2 * list_dot_product(t.sv, cb.cv), cb.c) AS rn"
        )
        mean = (
            "CAST(SUM(CAST(FLOOR(sv[i + 1] * 1048576.0 + 0.5) AS BIGINT)) "
            f"AS DOUBLE) / (COUNT(*) * 1048576.0) AS mval"
        )
        parts.append(f"""
vs{mi} AS (SELECT vec_id, list_slice(v, {lo}, {hi}) AS sv FROM vecs),
c0_{mi} AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c,
         sv AS cv
  FROM (SELECT vec_id, sv FROM vs{mi} ORDER BY vec_id LIMIT {ksub})),
a1_{mi} AS (SELECT vec_id, sv, c FROM (
  SELECT t.vec_id, t.sv, cb.c, {assign}
  FROM vs{mi} t, c0_{mi} cb) WHERE rn = 1),
m1_{mi} AS (SELECT c, i, {mean}
  FROM a1_{mi}, range({dsub}) t(i) GROUP BY c, i),
c1_{mi} AS (SELECT c0_{mi}.c, COALESCE(mm.cv, c0_{mi}.cv) AS cv
  FROM c0_{mi} LEFT JOIN (SELECT c, list(mval ORDER BY i) AS cv
                          FROM m1_{mi} GROUP BY c) mm USING (c)),
a2_{mi} AS (SELECT vec_id, sv, c FROM (
  SELECT t.vec_id, t.sv, cb.c, {assign}
  FROM vs{mi} t, c1_{mi} cb) WHERE rn = 1),
m2_{mi} AS (SELECT c, i, {mean}
  FROM a2_{mi}, range({dsub}) t(i) GROUP BY c, i),
c2_{mi} AS (SELECT c1_{mi}.c, COALESCE(mm.cv, c1_{mi}.cv) AS cv
  FROM c1_{mi} LEFT JOIN (SELECT c, list(mval ORDER BY i) AS cv
                          FROM m2_{mi} GROUP BY c) mm USING (c)),
enc_{mi} AS (SELECT vec_id, c AS code FROM (
  SELECT t.vec_id, cb.c, {assign}
  FROM vs{mi} t, c2_{mi} cb) WHERE rn = 1),
qd{mi} AS (
  SELECT q.qid, cb.c,
         list_dot_product(q.sv, q.sv) - 2 * list_dot_product(q.sv, cb.cv)
         + list_dot_product(cb.cv, cb.cv) AS d2
  FROM (SELECT vec_id AS qid, list_slice(v, {lo}, {hi}) AS sv
        FROM vecs WHERE vec_id % 100 = 0 AND vec_id < 2000) q, c2_{mi} cb)""")
    code_joins = " ".join(
        f"JOIN enc_{mi} e{mi} USING (vec_id)" for mi in range(1, m)
    )
    code_cols = ", ".join(f"e{mi}.code AS code{mi}" for mi in range(m))
    dt_joins = " ".join(
        f"JOIN qd{mi} q{mi} ON q{mi}.c = codes.code{mi}"
        + (f" AND q{mi}.qid = q0.qid" if mi else "")
        for mi in range(m)
    )
    ad2 = " + ".join(f"q{mi}.d2" for mi in range(m))
    return f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),{",".join(parts)},
codes AS (
  SELECT e0.vec_id, {code_cols}
  FROM enc_0 e0 {code_joins}),
cand AS (
  SELECT q0.qid, codes.vec_id, {ad2} AS ad2
  FROM codes {dt_joins}
  WHERE codes.vec_id <> q0.qid)
SELECT qid, vec_id, ROUND(ad2, 6) AS approx_d2,
  CAST(ROW_NUMBER() OVER (PARTITION BY qid
       ORDER BY ad2, vec_id) AS INT) AS rank
FROM cand QUALIFY rank <= {k}
"""


@query("td_pq_ann", oracle=_pq_oracle())
def td_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jégou et al. 2011): 4 subspaces × 4 L2-Lloyd-trained centroids,
    corpus encoded to 4 sub-codes, queries scored by M table lookups —
    the compressed-domain tier of the search ladder (the corpus's full
    vectors are never read at query time; at 100 TB the code table is
    ~64× smaller than the vectors and the ADC scan is bandwidth-bound).
    The oracle replays training, encoding, distance tables, and ranking
    end to end (same contract as td_ivf_ann's Lloyd replay); recall vs
    the exact scorer is asserted on a planted clustered corpus in
    tests/test_pq.py."""
    from busdata_pipeline_spark.operators import similarity
    from busdata_pipeline_spark.plans.training_data import _queries_df

    emb = table(spark, sf_dir, "embeddings")
    return similarity.pq_adc_topk(
        emb, _queries_df(spark, sf_dir), k=10,
        m=_PQ_M, ksub=_PQ_KSUB, dim=_PQ_DIM, n_iter=_PQ_ITER,
    )


# ---------------------------------------------------------------------------
# bounded-memory exact heavy hitters (Misra-Gries candidates + verify)

_HH_K = 50


@query(
    "td_heavy_hitters",
    # DEFINITIONAL oracle: all tokens with count*k >= N (integer compare,
    # no float threshold).  The engine must produce exactly this set at
    # bounded memory — the MG candidate superset varies with
    # partitioning, but the exact verify filter makes the OUTPUT
    # invariant, which is what the hash check proves.
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok)
SELECT tok, cnt FROM c CROSS JOIN tot WHERE cnt * {_HH_K} >= n
""",
)
def td_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent tokens (count ≥ N/k) at bounded memory: weighted
    Misra-Gries summaries per partition (≤ k counters each, vocabulary-
    independent) generate a guaranteed-complete candidate superset; an
    exact verify pass counts ONLY candidates (semi-join before the
    shuffle) and applies the integer threshold.  See
    operators/profile.py:heavy_hitters_exact for the undercount-bound
    completeness argument — this is how "exact top terms" stays
    feasible when the vocabulary itself no longer fits an executor."""
    from busdata_pipeline_spark.operators.profile import heavy_hitters_exact

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim("text"), " ")).alias("tok")
    )
    return heavy_hitters_exact(toks, k=_HH_K)


# ---------------------------------------------------------------------------
# leakage-safe train/val split (cluster-granular assignment)


@query(
    "td_leakage_safe_split",
    oracle=None,  # assigned below — reuses training_data._CLUSTER_CTE
)
def td_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split: near-duplicate CLUSTERS, not
    documents, are the unit of assignment, so two near-copies can never
    land on opposite sides of the split (the cross-split contamination
    that inflates eval scores — the reason dedup papers run dedup
    BEFORE splitting).  group = connected-component id under the
    MinHash near-dup relation (singletons group as themselves); split =
    deterministic md5 threshold on the GROUP id (~15/16 train), so
    membership is a pure function of group — engine- and
    partitioning-independent.

    Scale shape: the CC labels come from the same hash-min propagation
    as td_dup_clusters (one shuffle per round); assignment adds one
    left join + a projection."""
    from busdata_pipeline_spark.operators import clustering, dedup

    docs = table(spark, sf_dir, "documents")
    # rule-16 quotient clusters: CC on the distinct-text rep graph
    clusters = dedup.minhash_text_clusters(docs, threshold=0.5)
    grouped = docs.select("doc_id").join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("group_id"),
    )
    return grouped.select(
        "doc_id",
        "group_id",
        F.when(
            F.substring(F.md5(F.col("group_id").cast("string")), 1, 2) < "f0",
            F.lit("train"),
        ).otherwise(F.lit("val")).alias("split"),
    )


def _register_leakage_oracle() -> None:
    from busdata_pipeline_spark.plans.registry import ORACLES
    from busdata_pipeline_spark.plans.training_data import _CLUSTER_CTE

    ORACLES["td_leakage_safe_split"] = _CLUSTER_CTE + """
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS group_id,
       CASE WHEN substring(md5(CAST(COALESCE(c.cluster_id, d.doc_id)
                                    AS VARCHAR)), 1, 2) < 'f0'
            THEN 'train' ELSE 'val' END AS split
FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
"""


_register_leakage_oracle()


# ---------------------------------------------------------------------------
# incremental near-dup maintenance (signature store + delta batch)

_SHINGLE_SQL = """CASE WHEN len(string_split(t, ' ')) >= 3 THEN
    list_distinct(list_transform(
      range(1, len(string_split(t, ' ')) - 1),
      i -> string_split(t, ' ')[i] || ' ' ||
           string_split(t, ' ')[i+1] || ' ' ||
           string_split(t, ' ')[i+2])) ELSE [] END"""


@query(
    "td_incremental_minhash",
    # DEFINITIONAL oracle: every (delta, store) pair with exact 3-gram
    # Jaccard >= 0.5 — the banded-LSH candidate path must reproduce it
    # (the LSH==exact guard for THIS corpus is test-asserted, same
    # contract as td_minhash_near_dups).  Round-11 (ORACLES.md rule
    # 16): the bipartite theta-join runs once per DISTINCT-text pair
    # (identical texts shingle identically) and expands back through
    # both sides' doc lists; the pair intersections are computed
    # relationally (explode shingles, equi-join, count per pair) so
    # the kernel is one vectorized GROUP BY — same relation,
    # output-bound on replicas.
    oracle=f"""
WITH base AS (SELECT doc_id, TRIM(text) AS t FROM documents),
store AS MATERIALIZED (SELECT doc_id, t FROM base WHERE doc_id % 2 = 0),
delta AS MATERIALIZED (
  SELECT doc_id, t FROM base WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 1000000,
         array_to_string(list_slice(string_split(t, ' '), 1,
                                    len(string_split(t, ' ')) - 1), ' ')
  FROM base WHERE doc_id % 2 = 0 AND doc_id % 10 = 0),
sgrp AS (SELECT t FROM store GROUP BY t),
dgrp AS (SELECT t FROM delta GROUP BY t),
shs AS MATERIALIZED (SELECT t, {_SHINGLE_SQL} AS sh FROM sgrp),
shd AS MATERIALIZED (SELECT t, {_SHINGLE_SQL} AS sh FROM dgrp),
dtoks AS MATERIALIZED (SELECT t, unnest(sh) AS tok FROM shd),
stoks AS MATERIALIZED (SELECT t, unnest(sh) AS tok FROM shs),
dsz AS MATERIALIZED (SELECT t, CAST(len(sh) AS BIGINT) AS sz FROM shd),
ssz AS MATERIALIZED (SELECT t, CAST(len(sh) AS BIGINT) AS sz FROM shs),
rv AS MATERIALIZED (
  SELECT x.t AS dt, y.t AS st,
         ROUND(CAST(COUNT(*) AS DOUBLE)
               / (ANY_VALUE(da.sz) + ANY_VALUE(sa.sz) - COUNT(*)),
               6) AS jaccard
  FROM dtoks x JOIN stoks y ON y.tok = x.tok
  JOIN dsz da ON da.t = x.t JOIN ssz sa ON sa.t = y.t
  GROUP BY x.t, y.t
  HAVING CAST(COUNT(*) AS DOUBLE)
         / (ANY_VALUE(da.sz) + ANY_VALUE(sa.sz) - COUNT(*)) >= 0.5)
SELECT dd.doc_id AS new_doc_id, ss.doc_id AS store_doc_id, r.jaccard
FROM rv r JOIN delta dd ON dd.t = r.dt JOIN store ss ON ss.t = r.st
""",
)
def td_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup dedup as a maintained index — the fuzzy sibling of
    td_incremental_dedup: a MinHash SIGNATURE store is persisted once
    per corpus state; a new arrival batch computes signatures for ITS
    documents only, and candidate pairs come from a banded equi-join of
    delta bands against store bands — the stored corpus is never
    re-shingled (its text is touched only for the exact-Jaccard verify
    of candidates, a candidate-bounded lookup that at 100 TB is a
    bucket join against the corpus table).

    Demo state: store = even docs' signatures (written to parquet and
    READ BACK, so the no-reshingle property is physical, not notional);
    delta = odd docs + planted truncated copies of every 10th even doc.
    Output: (new_doc_id, store_doc_id, jaccard ≥ 0.5)."""
    from busdata_pipeline_spark.operators.dedup import (
        jaccard_pairs,
        minhash_signatures,
    )

    docs = table(spark, sf_dir, "documents")
    store_docs = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    words = F.split(F.trim("text"), " ")
    copies = (
        docs.where((F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 10 == 0))
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.array_join(
                F.slice(words, 1, F.size(words) - 1), " "
            ).alias("text"),
        )
    )
    delta_docs = (
        docs.where(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
        .unionByName(copies)
    )

    with scratch_dir("minhash_store_") as scratch:
        store = f"{scratch}/store"
        # The store write is the query's unavoidable physical job (the
        # no-reshingle contract) and the DELTA batch's signatures are
        # independent of it until the banded join — so the delta
        # signature pass materializes on a driver thread WHILE the
        # store writes (guide §2.6 overlap; same pattern as
        # td_ann_recall_eval's exact-scorer checkpoint).  The
        # checkpoint itself is new, but it runs inside wall-clock the
        # write already spends; the final job then starts from the
        # materialized (delta-sized) signature table instead of
        # re-deriving the shingle -> explode -> 32-min aggregate chain
        # on its critical path.
        from concurrent.futures import ThreadPoolExecutor

        def _delta_sigs():
            return minhash_signatures(delta_docs).localCheckpoint(
                eager=True
            )

        with ThreadPoolExecutor(max_workers=1) as pool:
            delta_f = pool.submit(_delta_sigs)
            minhash_signatures(store_docs).write.mode(
                "overwrite"
            ).parquet(store)
            delta_sigs = delta_f.result()
        store_sigs = spark.read.parquet(store)

        # Round-12 (ORACLES.md rule 16, mirrored engine-side): band-join
        # and exact-verify once per DISTINCT-TEXT pair, then expand
        # verdicts to doc pairs through the text-hash maps — the same
        # quotient the oracle already states.  Identical trimmed text
        # implies identical shingles, hence identical signature, bands,
        # and jaccard, so the per-rep verdict is exact for every
        # member.  Pre-quotient, the candidate doc pairs scale with
        # replication SQUARED: the 100x replica's ~6.5M candidate pairs
        # dragged their texts over the 8 GB broadcast cap inside
        # jaccard_pairs' pair-centric path (caught by the round-12 100x
        # campaign), while distinct-text candidates are bounded by
        # corpus diversity.  The rep's signature is read FROM THE
        # STORE (one equi-join on the rep id) — the store is still
        # never re-shingled.
        th = F.md5(F.trim("text"))
        s_reps = (
            store_docs.select(th.alias("tha"), "doc_id")
            .groupBy("tha").agg(F.min("doc_id").alias("a"))
        )
        d_reps = (
            delta_docs.select(th.alias("thb"), "doc_id")
            .groupBy("thb").agg(F.min("doc_id").alias("b"))
        )
        s_map = store_docs.select(F.col("doc_id").alias("sa"),
                                  th.alias("tha"))
        d_map = delta_docs.select(F.col("doc_id").alias("db"),
                                  th.alias("thb"))
        s_rep_sigs = s_reps.join(
            store_sigs.select(F.col("doc_id").alias("a"), "signature"), "a"
        )
        d_rep_sigs = d_reps.join(
            delta_sigs.select(F.col("doc_id").alias("b"), "signature"), "b"
        )

        # 16 bands x 2 rows over the SAME stored 32-hash signatures
        # (banding is a reader-side choice; the store is not rewritten).
        # The round-11 10x differential caught an 8x4 miss at j=0.882
        # (truncated doc 1001290 vs store doc 3624): 8x4 misses with
        # p=(1-j^4)^8 ~ 6e-4 there, while every qualifying pair in this
        # corpus family sits at j >= 0.833, where 16x2 misses with
        # p=(1-j^2)^16 ~ 6e-9 — the LSH==exact contract holds with
        # nine orders of magnitude of margin instead of relying on luck.
        def banded(sigs, *keep):
            return sigs.select(
                *keep,
                F.posexplode(
                    F.expr(
                        "transform(sequence(0, 15), b -> "
                        "xxhash64(concat_ws(',', slice(signature, "
                        "b * (size(signature) div 16) + 1, "
                        "size(signature) div 16)), b))"
                    )
                ).alias("band", "band_hash"),
            )

        rep_cands = (
            banded(d_rep_sigs, "b", "thb")
            .join(banded(s_rep_sigs, "a", "tha"), ["band", "band_hash"])
            .select("a", "b", "tha", "thb")
            .distinct()
        )
        both = store_docs.unionByName(delta_docs)
        # carry=(tha, thb): the expansion keys ride through the verify,
        # so the banded-join/distinct lineage executes ONCE — a re-join
        # of verified pairs back to rep_cands would run it twice.
        rep_verified = (
            jaccard_pairs(both, rep_cands, pairs_small=True,
                          carry=("tha", "thb"))
            .where(F.col("jaccard") >= 0.5)
        )
        out = (
            rep_verified
            .join(s_map, "tha")
            .join(d_map, "thb")
            .select(
                F.col("db").alias("new_doc_id"),
                F.col("sa").alias("store_doc_id"),
                "jaccard",
            )
        )
        return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# end-to-end entity resolution (blocking -> fuzzy match -> CC -> golden record)


@query(
    "rel_entity_resolution",
    # The full workflow replayed: the blocked-fuzzy edge predicate is
    # the td_fuzzy_prefix_match definition, closure is the recursive
    # CTE, the golden record is a deterministic (n_chars DESC, doc_id)
    # survivorship pick, membership a sorted CSV.
    oracle="""
WITH RECURSIVE nm AS MATERIALIZED (
  SELECT doc_id, rpad(lower(substring(text, 1, 12)), 12, '_') AS nm,
         length(trim(text)) AS n_chars
  FROM documents),
-- ORACLES.md rule 16: blocking, levenshtein, and the closure run on
-- DISTINCT normalized names (identical names are lev-0 cliques — one
-- sym self-loop suffices); doc-level clusters are recovered by
-- expanding components through nm with component-wide MIN(doc_id).
nmg AS MATERIALIZED (
  SELECT nm, MIN(doc_id) AS rep_id, COUNT(*) AS cnt FROM nm GROUP BY nm),
blocks AS (
  SELECT nm, rep_id, i, substring(nm, 1 + (i - 1) * 4, 4) AS blk
  FROM nmg, range(1, 4) t(i)),
redges AS MATERIALIZED (
  SELECT DISTINCT a.nm AS na, b.nm AS nb
  FROM blocks a JOIN blocks b
    ON a.i = b.i AND a.blk = b.blk AND b.rep_id > a.rep_id
  WHERE levenshtein(a.nm, b.nm) <= 2),
sym AS MATERIALIZED (
  SELECT na AS v, nb AS w FROM redges
  UNION SELECT nb, na FROM redges
  UNION SELECT nm, nm FROM nmg WHERE cnt >= 2),
reach(v, w) AS (
  SELECT v, v FROM sym GROUP BY v
  UNION
  SELECT r.v, s.w FROM reach r JOIN sym s ON s.v = r.w),
comp AS (SELECT v AS cnm, MIN(w) AS comp_nm FROM reach GROUP BY v),
cmin AS (SELECT c.comp_nm, MIN(n.doc_id) AS cluster_id
         FROM comp c JOIN nm n ON n.nm = c.cnm GROUP BY c.comp_nm),
clusters AS (
  SELECT n.doc_id, m.cluster_id
  FROM comp c JOIN cmin m USING (comp_nm) JOIN nm n ON n.nm = c.cnm),
rep AS (
  SELECT cluster_id, doc_id AS rep_doc_id FROM (
    SELECT c.cluster_id, n.doc_id,
           ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                              ORDER BY n.n_chars DESC, n.doc_id) AS rn
    FROM clusters c JOIN nm n USING (doc_id)) q WHERE rn = 1)
SELECT c.cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MIN(rep.rep_doc_id) AS rep_doc_id,
       string_agg(c.doc_id, ',' ORDER BY c.doc_id) AS members
FROM clusters c JOIN rep USING (cluster_id)
GROUP BY c.cluster_id
""",
)
def rel_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution — the record-linkage workflow a
    warehouse user actually runs, composed from the engine's parts:

    1. BLOCKING + fuzzy match (operators/dedup.fuzzy_prefix_matches):
       aligned-prefix-block equi-join candidates, levenshtein verify;
    2. CLUSTERING (operators/clustering.connected_components): hash-min
       label propagation over the match edges;
    3. SURVIVORSHIP: per entity, the golden record is the longest
       document (ties → lowest id) — a deterministic total order, so
       the pick is engine-stable; membership is a sorted CSV.

    Scale: each leg inherits its operator's posture (blocked equi-join,
    one shuffle per CC round, one cluster-keyed window + aggregate);
    nothing here is new physics — the point is that the composition
    stays three shuffles deep end to end."""
    from busdata_pipeline_spark.operators import clustering, dedup

    docs = table(spark, sf_dir, "documents")
    # Round-11 quotient (ORACLES.md rule 16, mirrored engine-side):
    # blocking, levenshtein, and the label-propagation closure run on
    # DISTINCT normalized names — identical names are a clique, so one
    # self-edge keeps multi-member groups in the vertex set — and
    # membership expands back through nm afterwards.  The rep id is
    # each name's MINIMUM member doc id, so the component label (min
    # vertex id, clustering.dedup_clusters' contract) IS the component
    # -wide minimum doc id — cluster_id needs no recomputation.  At the
    # 100x replica this is a ~5k-edge CC instead of ~190M.
    nm = dedup.normalized_names(docs)
    # eager localCheckpoint: the distinct-name dimension feeds both
    # rep_edges sides, the clique self-loops, and the membership
    # expansion — four re-executions of the scan + groupBy otherwise
    # (same multi-use-lineage pattern measured in the setsim kernel).
    nmg = nm.groupBy("nm").agg(
        F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("cnt")
    ).localCheckpoint(eager=True)
    np_ = dedup.fuzzy_nm_pairs(spark, nm)
    rep_edges = (
        np_.join(nmg.select(F.col("nm").alias("na"),
                            F.col("rep_id").alias("a")), "na")
        .join(nmg.select(F.col("nm").alias("nb"),
                         F.col("rep_id").alias("b")), "nb")
        .select("a", "b")
        .unionByName(
            nmg.where(F.col("cnt") >= 2)
            .select(F.col("rep_id").alias("a"), F.col("rep_id").alias("b"))
        )
    )
    rep_clusters = clustering.dedup_clusters(rep_edges).select(
        F.col("doc_id").alias("rep_id"), "cluster_id"
    )
    # eager localCheckpoint: (doc_id, cluster_id) int pairs — consumed
    # by BOTH the survivorship window and the final membership
    # aggregate; unpersisted, each would re-run the fuzzy-match + CC
    # chain above.
    clusters = (
        nm.join(nmg.select("nm", "rep_id"), "nm")
        .join(rep_clusters, "rep_id")
        .select("doc_id", "cluster_id")
        .localCheckpoint(eager=True)
    )
    n_chars = docs.select("doc_id", F.length(F.trim("text")).alias("n_chars"))
    wc = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    rep = (
        clusters.join(n_chars, "doc_id")
        .withColumn("rn", F.row_number().over(wc))
        .where(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("rep_doc_id"))
    )
    return (
        clusters.join(rep, "cluster_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("rep_doc_id").alias("rep_doc_id"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members"),
        )
    )


# ---------------------------------------------------------------------------
# sketch set-algebra: audience overlap via HLL inclusion-exclusion

_OVERLAP_DAYS = ["2024-01-0%d" % d for d in range(1, 6)]


@query(
    "td_sketch_overlap",
    # Exact anchors + per-engine sketch invariant (the td_sketches
    # contract): each engine asserts ITS OWN HLL inclusion-exclusion
    # estimate lands within the bound of the exact overlap — the bound
    # is generous enough (20% + 10) that both engines' sketches sit
    # inside it, so the boolean is engine-stable.
    oracle=f"""
WITH days(d) AS (VALUES {", ".join("(DATE '%s')" % d for d in _OVERLAP_DAYS)}),
m AS (
  SELECT p.pair_day, e.user_id, (CAST(e.ts AS DATE) = p.pair_day) AS is_a
  FROM events e
  JOIN (SELECT d AS pair_day FROM days WHERE d < DATE '{_OVERLAP_DAYS[-1]}') p
    ON CAST(e.ts AS DATE) = p.pair_day
    OR CAST(e.ts AS DATE) = p.pair_day + INTERVAL 1 DAY),
per_user AS (
  SELECT pair_day, user_id,
         MAX(CASE WHEN is_a THEN 1 ELSE 0 END) AS has_a,
         MAX(CASE WHEN is_a THEN 0 ELSE 1 END) AS has_b
  FROM m GROUP BY pair_day, user_id),
ex AS (
  SELECT pair_day,
         CAST(SUM(has_a) AS BIGINT) AS exact_a,
         CAST(SUM(has_b) AS BIGINT) AS exact_b,
         CAST(SUM(has_a * has_b) AS BIGINT) AS exact_overlap
  FROM per_user GROUP BY pair_day),
est AS (
  SELECT pair_day,
         approx_count_distinct(CASE WHEN is_a THEN user_id END) AS ea,
         approx_count_distinct(CASE WHEN NOT is_a THEN user_id END) AS eb,
         approx_count_distinct(user_id) AS eu
  FROM m GROUP BY pair_day)
SELECT ex.pair_day, ex.exact_a, ex.exact_b, ex.exact_overlap,
       abs((est.ea + est.eb - est.eu) - ex.exact_overlap)
         <= 0.2 * ex.exact_overlap + 10 AS overlap_est_ok
FROM ex JOIN est USING (pair_day)
""",
)
def td_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set OVERLAP between consecutive days, two ways at once:
    exact (per-(pair, user) bitmask fold — two hash aggregates, no
    self-join) and sketched (|A∩B| ≈ HLL(A) + HLL(B) − HLL(A∪B), the
    inclusion-exclusion identity that lets pre-aggregated per-partition
    HLL states answer overlap questions no COUNT(DISTINCT) rollup can).
    At 100 TB the exact side is the audit; the sketch side is what a
    dashboard serves from merged per-day sketch states without
    re-scanning either day.  The subtraction amplifies sketch error —
    which is the point of carrying the exact anchor and asserting the
    bound in-band (boolean in the hash)."""
    ev = table(spark, sf_dir, "events")
    days = [F.lit(d).cast("date") for d in _OVERLAP_DAYS]
    d = F.to_date("ts")
    pairs = F.array(*[
        F.struct(
            days[i].alias("pair_day"),
            (d == days[i]).alias("is_a"),
        )
        for i in range(len(days) - 1)
    ])
    m = (
        ev.where(d.isin([F.lit(x) for x in _OVERLAP_DAYS]))
        .select("user_id", d.alias("d"), F.explode(pairs).alias("p"))
        .where(
            (F.col("d") == F.col("p.pair_day"))
            | (F.col("d") == F.date_add(F.col("p.pair_day"), 1))
        )
        .select(
            F.col("p.pair_day").alias("pair_day"),
            "user_id",
            (F.col("d") == F.col("p.pair_day")).alias("is_a"),
        )
    )
    per_user = m.groupBy("pair_day", "user_id").agg(
        F.max(F.when(F.col("is_a"), 1).otherwise(0)).alias("has_a"),
        F.max(F.when(F.col("is_a"), 0).otherwise(1)).alias("has_b"),
    )
    ex = per_user.groupBy("pair_day").agg(
        F.sum("has_a").alias("exact_a"),
        F.sum("has_b").alias("exact_b"),
        F.sum(F.col("has_a") * F.col("has_b")).alias("exact_overlap"),
    )
    est = m.groupBy("pair_day").agg(
        F.approx_count_distinct(
            F.when(F.col("is_a"), F.col("user_id")), 0.01).alias("ea"),
        F.approx_count_distinct(
            F.when(~F.col("is_a"), F.col("user_id")), 0.01).alias("eb"),
        F.approx_count_distinct("user_id", 0.01).alias("eu"),
    )
    return ex.join(est, "pair_day").select(
        "pair_day", "exact_a", "exact_b", "exact_overlap",
        (
            F.abs((F.col("ea") + F.col("eb") - F.col("eu"))
                  - F.col("exact_overlap"))
            <= 0.2 * F.col("exact_overlap") + 10
        ).alias("overlap_est_ok"),
    )


# ---------------------------------------------------------------------------
# blocking-scheme evaluation (record-linkage QA)


@query(
    "rel_blocking_quality",
    # The three canonical blocking-evaluation metrics (Christen 2012):
    # reduction ratio, pair completeness (blocking recall), pair quality
    # (blocking precision), computed on a deterministic bounded labeled
    # sample (doc_id < 200) where the all-pairs ground truth is
    # enumerable by definition.  Blocking predicate and truth predicate
    # are the rel_entity_resolution definitions verbatim, so this query
    # *measures* the blocking scheme the resolution pipeline uses.
    # Ratios are FLOOR-quantized at 1e-6 on both engines (the EWMA
    # discipline — ROUND's half-ulp is engine-divergent).
    oracle="""
WITH nm AS (
  SELECT doc_id, rpad(lower(substring(text, 1, 12)), 12, '_') AS nm
  FROM documents WHERE doc_id < 200),
blocks AS (
  SELECT doc_id, nm, i, substring(nm, 1 + (i - 1) * 4, 4) AS blk
  FROM nm, range(1, 4) t(i)),
cands AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM blocks a JOIN blocks b
    ON a.i = b.i AND a.blk = b.blk AND b.doc_id > a.doc_id),
truth AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM nm x JOIN nm y ON y.doc_id > x.doc_id
  WHERE levenshtein(x.nm, y.nm) <= 2),
hits AS (SELECT * FROM cands INTERSECT SELECT * FROM truth),
m AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nm)     AS n_sample,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM cands)  AS n_candidates,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM truth)  AS n_true,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM hits)   AS n_true_in_cands)
SELECT n_sample, n_candidates, n_true, n_true_in_cands,
  CAST(n_sample * (n_sample - 1) / 2 AS BIGINT) AS n_possible_pairs,
  FLOOR((1.0 - CAST(n_candidates AS DOUBLE)
              / (n_sample * (n_sample - 1) / 2)) * 1e6 + 0.5) / 1e6 + 0.0
    AS reduction_ratio,
  CASE WHEN n_true = 0 THEN NULL
       ELSE FLOOR(CAST(n_true_in_cands AS DOUBLE) / n_true * 1e6 + 0.5)
            / 1e6 + 0.0 END AS pair_completeness,
  CASE WHEN n_candidates = 0 THEN NULL
       ELSE FLOOR(CAST(n_true_in_cands AS DOUBLE) / n_candidates * 1e6
                  + 0.5) / 1e6 + 0.0 END AS pair_quality
FROM m
""",
)
def rel_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme quality report — reduction ratio / pair
    completeness / pair quality of the aligned-prefix-block scheme that
    rel_entity_resolution uses, evaluated against exhaustive
    edit-distance ground truth on a BOUNDED labeled sample.

    Scale posture: the sample is a fixed 200 ids regardless of corpus
    size (labeled-subset evaluation, the only way ground truth exists
    at 100 TB), so the all-pairs truth enumeration is O(1) — a
    BroadcastNestedLoopJoin over ≤200 broadcast rows, whitelisted as
    such in the plan lint.  Candidates come from the SAME blocked
    equi-join shape as production; the four counts recombine by scalar
    crossJoin (1-row aggregates)."""
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    nm = docs.select(
        "doc_id",
        F.rpad(F.lower(F.substring("text", 1, 12)), 12, "_").alias("nm"),
    )
    blocks = nm.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.substring("nm", 1 + i * 4, 4) for i in range(3)])
        ).alias("blk_i", "blk"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    cands = (
        a.join(b, (F.col("a.blk_i") == F.col("b.blk_i"))
               & (F.col("a.blk") == F.col("b.blk"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .distinct()
    )
    x, y = nm.alias("x"), nm.alias("y")
    truth = (
        x.join(F.broadcast(y), F.col("x.doc_id") < F.col("y.doc_id"))
        .where(F.levenshtein("x.nm", "y.nm") <= 2)
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
    )
    hits = cands.join(truth, ["a", "b"])

    counts = (
        nm.agg(F.count(F.lit(1)).cast("long").alias("n_sample"))
        .crossJoin(cands.agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates")))
        .crossJoin(truth.agg(
            F.count(F.lit(1)).cast("long").alias("n_true")))
        .crossJoin(hits.agg(
            F.count(F.lit(1)).cast("long").alias("n_true_in_cands")))
    )

    def q6(c: Column) -> Column:
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    pairs = (F.col("n_sample") * (F.col("n_sample") - 1) / 2).cast("long")
    return counts.select(
        "n_sample", "n_candidates", "n_true", "n_true_in_cands",
        pairs.alias("n_possible_pairs"),
        q6(F.lit(1.0) - F.col("n_candidates").cast("double")
           / pairs.cast("double")).alias("reduction_ratio"),
        F.when(F.col("n_true") == 0, F.lit(None).cast("double"))
         .otherwise(q6(F.col("n_true_in_cands").cast("double")
                       / F.col("n_true")))
         .alias("pair_completeness"),
        F.when(F.col("n_candidates") == 0, F.lit(None).cast("double"))
         .otherwise(q6(F.col("n_true_in_cands").cast("double")
                       / F.col("n_candidates")))
         .alias("pair_quality"),
    )


# ---------------------------------------------------------------------------
# unigram-LM tokenizer training (Kudo 2018, SentencePiece) — Viterbi-EM

#: cap on multi-char seed pieces (single chars are ALWAYS kept — the
#: coverage guarantee), max piece length, training-word length bound
#: (bounds the unrolled DP depth), EM iterations.
_UNI_VOCAB = 200
_UNI_MAXPIECE = 4
_UNI_MAXWORD = 10
_UNI_ITERS = 2

#: integer micro-nat quantization of log-probs: ALL Viterbi arithmetic
#: is exact BIGINT sums, so the DP argmax can never diverge by a float
#: ulp between engines; ln itself is quantized at the one point it
#: enters (both engines call the same glibc log on the same double).
_UNI_MICRO = "CAST(FLOOR(ln({x}) * 1e6 + 0.5) AS BIGINT)"


def _uni_dp_sql(it: int, lps: str) -> str:
    """Unrolled Viterbi DP + backtrace for one E-step against the
    log-prob relation ``{lps}(piece, lp)``: layer CTEs d{it}_j hold the
    best integer score and chosen last-piece length at prefix length j
    (argmax by score DESC then SHORTER piece — a total, engine-stable
    order); the backtrace walks bl backwards emitting used pieces."""
    layers = []
    for j in range(1, _UNI_MAXWORD + 1):
        cands = []
        for l in range(1, min(_UNI_MAXPIECE, j) + 1):
            prev = ("CAST(0 AS BIGINT)" if j == l
                    else f"p.best")
            join_prev = ("" if j == l
                         else f" JOIN d{it}_{j - l} p ON p.word = t.word")
            cands.append(f"""
      SELECT t.word, t.freq, {prev} + lp.lp AS best, {l} AS bl
      FROM train t{join_prev}
      JOIN {lps} lp ON lp.piece = substr(t.word, {j - l + 1}, {l})
      WHERE length(t.word) >= {j}""")
        layers.append(f"""
d{it}_{j} AS MATERIALIZED (
  SELECT word, freq, best, bl FROM (
    SELECT word, freq, best, bl,
           ROW_NUMBER() OVER (PARTITION BY word
                              ORDER BY best DESC, bl ASC) AS rn
    FROM ({" UNION ALL ".join(cands)}) c) q WHERE rn = 1)""")
    dp_union = " UNION ALL ".join(
        f"SELECT word, {j} AS pos, bl FROM d{it}_{j}"
        for j in range(1, _UNI_MAXWORD + 1)
    )
    steps = [f"""
bt{it}_0 AS MATERIALIZED (SELECT word, freq, length(word) AS pos FROM train)"""]
    emits = []
    for s in range(_UNI_MAXWORD):
        steps.append(f"""
e{it}_{s} AS MATERIALIZED (
  SELECT b.word, b.freq,
         substr(b.word, b.pos - d.bl + 1, d.bl) AS piece,
         b.pos - d.bl AS nxt
  FROM bt{it}_{s} b JOIN dp{it} d
    ON d.word = b.word AND d.pos = b.pos)""")
        emits.append(f"SELECT piece, freq FROM e{it}_{s}")
        if s < _UNI_MAXWORD - 1:
            steps.append(f"""
bt{it}_{s + 1} AS MATERIALIZED (SELECT word, freq, nxt AS pos FROM e{it}_{s}
                   WHERE nxt > 0)""")
    return (
        ",".join(layers)
        + f",\ndp{it} AS MATERIALIZED ({dp_union}),"
        + ",".join(steps)
        + f""",
cnt{it} AS MATERIALIZED (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM ({" UNION ALL ".join(emits)}) u GROUP BY piece)"""
    )


def _uni_mstep_sql(it: int, vocab: str, next_lps: str) -> str:
    """Prune unused multi-char pieces, re-estimate add-one-smoothed
    log-probs over survivors."""
    return f"""
surv{it} AS MATERIALIZED (
  SELECT v.piece, COALESCE(c.cnt, 0) AS cnt
  FROM {vocab} v LEFT JOIN cnt{it} c USING (piece)
  WHERE length(v.piece) = 1 OR COALESCE(c.cnt, 0) > 0),
tot{it} AS MATERIALIZED (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n FROM surv{it}),
{next_lps} AS MATERIALIZED (
  SELECT piece,
         {_UNI_MICRO.format(x=f"CAST(cnt + 1 AS DOUBLE) / (total + n)")} AS lp
  FROM surv{it}, tot{it})"""


def _unigram_train_body() -> list[str]:
    """WITH-clause parts replaying seed + ``_UNI_ITERS`` EM rounds,
    ending at surv{N} / lps{N+1}."""
    parts = [f"""
words AS MATERIALIZED (
  SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents),
train AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM words
  WHERE length(word) BETWEEN 1 AND {_UNI_MAXWORD} GROUP BY word),
occ AS MATERIALIZED (
  SELECT substr(t.word, i, l) AS piece, CAST(SUM(t.freq) AS BIGINT) AS cnt
  FROM train t, range(1, {_UNI_MAXWORD} + 1) ri(i),
       range(1, {_UNI_MAXPIECE} + 1) rl(l)
  WHERE i + l - 1 <= length(t.word)
  GROUP BY 1),
vocab0 AS MATERIALIZED (
  SELECT piece, cnt FROM occ WHERE length(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt,
           ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rn
    FROM occ WHERE length(piece) > 1) q WHERE rn <= {_UNI_VOCAB}),
t0 AS MATERIALIZED (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab0),
lps1 AS MATERIALIZED (
  SELECT piece,
         {_UNI_MICRO.format(x="CAST(cnt AS DOUBLE) / total")} AS lp
  FROM vocab0, t0)"""]
    vocab = "vocab0"
    for it in range(1, _UNI_ITERS + 1):
        parts.append(_uni_dp_sql(it, f"lps{it}"))
        parts.append(_uni_mstep_sql(it, vocab, f"lps{it + 1}"))
        vocab = f"surv{it}"
    return parts


def _unigram_oracle() -> str:
    """Full SQL replay of Viterbi-EM unigram-LM training: seed vocab
    (chars + top-{V} substrings by freq-weighted occurrence), initial
    log-probs, then per EM iteration the complete unrolled DP,
    backtrace, prune, and re-estimate — the driver hash-checks the
    training trajectory, not just the final table (td_bpe_train
    contract)."""
    final_it = _UNI_ITERS
    return (
        "WITH " + ",".join(_unigram_train_body())
        + f"""
SELECT s.piece AS piece, s.cnt AS used_count, l.lp AS logp_micro
FROM surv{final_it} s JOIN lps{final_it + 1} l USING (piece)"""
    )


def _unigram_encode_oracle() -> str:
    """Replay training, then one more unrolled Viterbi pass under the
    FINAL log-probs to segment every trained word, and join documents
    to their words' piece counts — the td_bpe_encode twin."""
    enc_it = _UNI_ITERS + 1
    parts = _unigram_train_body()
    parts.append(_uni_dp_sql(enc_it, f"lps{enc_it}"))
    emits = " UNION ALL ".join(
        f"SELECT word FROM e{enc_it}_{s}" for s in range(_UNI_MAXWORD)
    )
    return (
        "WITH " + ",".join(parts)
        + f""",
npieces AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_pieces
  FROM ({emits}) u GROUP BY word),
docw AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
  FROM documents)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS enc_words,
  CAST(SUM(n_pieces) AS BIGINT) AS uni_tokens,
  FLOOR(CAST(SUM(n_pieces) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 + 0.0
    AS tokens_per_word
FROM docw JOIN npieces USING (word)
GROUP BY doc_id"""
    )


def _uni_micro_py(x: float) -> int:
    import math

    return int(math.floor(math.log(x) * 1e6 + 0.5))


def _uni_viterbi(word: str, lp_map: dict) -> list[int]:
    """Best-segmentation last-piece lengths for every prefix of
    ``word`` under integer micro-nat log-probs — exact BIGINT sums,
    argmax by (score DESC, piece length ASC), the identical total
    order as the oracle's unrolled DP."""
    n = len(word)
    best = [0] * (n + 1)
    bl = [0] * (n + 1)
    for j in range(1, n + 1):
        bb = None
        bbl = 0
        for piece_len in range(1, min(_UNI_MAXPIECE, j) + 1):
            p = lp_map.get(word[j - piece_len:j])
            if p is None:
                continue
            s = best[j - piece_len] + p
            # strict > with ascending length keeps the SHORTEST piece
            # on score ties — same order as (best DESC, bl ASC).
            if bb is None or s > bb:
                bb, bbl = s, piece_len
        if bb is None:
            raise ValueError(f"uncovered prefix in {word!r}")
        best[j], bl[j] = bb, bbl
    return bl


def _uni_backtrace(word: str, bl: list[int]) -> list[str]:
    pieces = []
    pos = len(word)
    while pos > 0:
        piece_len = bl[pos]
        pieces.append(word[pos - piece_len:pos])
        pos -= piece_len
    return pieces


def _unigram_learn(spark: SparkSession, docs: DataFrame):
    """Shared trainer: returns (train_df, lp, counts, vocab) after
    ``_UNI_ITERS`` rounds of hard EM.

    Scale shape (the td_bpe_train contract): the corpus is touched
    exactly once (the word-frequency aggregate); every E-step is one
    ``mapInPandas`` pass over the DISTINCT-WORD table with the
    vocab-sized log-prob dict shipped in the closure (k-row broadcast,
    like the PQ ADC tables); M-steps are vocab-bounded collects.  The
    Viterbi DP is pure BIGINT arithmetic over micro-nat log-probs, so
    no float ulp can flip an argmax between engines."""
    import pandas as pd

    words = docs.select(
        F.explode(F.split(F.trim("text"), " ")).alias("word")
    )
    train = (
        words.where(F.length("word").between(1, _UNI_MAXWORD))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .localCheckpoint(eager=True)
    )
    occ = (
        train.select(
            "freq",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, {_UNI_MAXWORD}), i -> "
                    f"transform(sequence(1, {_UNI_MAXPIECE}), l -> "
                    "CASE WHEN i + l - 1 <= length(word) "
                    "THEN substring(word, i, l) END)))"
                )
            ).alias("piece"),
        )
        .where(F.col("piece").isNotNull())
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    wsel = Window.orderBy(F.desc("cnt"), F.asc("piece"))
    vocab0 = (
        occ.where(F.length("piece") == 1)
        .unionByName(
            occ.where(F.length("piece") > 1)
            .withColumn("rn", F.row_number().over(wsel))
            .where(F.col("rn") <= _UNI_VOCAB)
            .drop("rn")
        )
        .collect()  # vocab-bounded: <= _UNI_VOCAB + |charset| rows
    )
    total0 = sum(r["cnt"] for r in vocab0)
    lp = {r["piece"]: _uni_micro_py(r["cnt"] / total0) for r in vocab0}
    vocab = {r["piece"] for r in vocab0}

    def estep(lp_map: dict) -> "callable":
        def run(batches):
            for pdf in batches:
                out_p: list = []
                out_f: list = []
                for word, freq in zip(pdf["word"], pdf["freq"]):
                    for piece in _uni_backtrace(
                        word, _uni_viterbi(word, lp_map)
                    ):
                        out_p.append(piece)
                        out_f.append(freq)
                yield pd.DataFrame(
                    {"piece": out_p,
                     "freq": pd.Series(out_f, dtype="int64")}
                )

        return run

    counts: dict = {}
    for _ in range(_UNI_ITERS):
        crows = (
            train.mapInPandas(estep(lp), "piece string, freq long")
            .groupBy("piece")
            .agg(F.sum("freq").alias("cnt"))
            .collect()  # keyed by used vocab pieces — vocab-bounded
        )
        used = {r["piece"]: int(r["cnt"]) for r in crows}
        # prune unused multi-char pieces; single chars always survive
        vocab = {p for p in vocab if len(p) == 1 or used.get(p, 0) > 0}
        counts = {p: used.get(p, 0) for p in vocab}
        total = sum(counts.values())
        n_surv = len(vocab)
        lp = {
            p: _uni_micro_py((c + 1) / (total + n_surv))
            for p, c in counts.items()
        }
    return train, lp, counts, vocab


def unigram_train_frame(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Core of td_unigram_tokenizer over any (doc_id, text) frame."""
    _, lp, counts, vocab = _unigram_learn(spark, docs)
    out = sorted(vocab)
    return spark.createDataFrame(
        [(p, counts[p], lp[p]) for p in out],
        schema="piece string, used_count long, logp_micro long",
    )


def unigram_encode_frame(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Core of td_unigram_encode: Viterbi-segment the corpus under the
    TRAINED model and report per-document fertility.  Same scale shape
    as td_bpe_encode: segmentation runs once per DISTINCT word (one
    mapInPandas over the word dimension table), documents join to their
    words' piece counts through one equi-join on word."""
    import pandas as pd

    train, lp, _, _ = _unigram_learn(spark, docs)

    def seg_counts(batches):
        for pdf in batches:
            words = list(pdf["word"])
            yield pd.DataFrame({
                "word": words,
                "n_pieces": pd.Series(
                    [len(_uni_backtrace(w, _uni_viterbi(w, lp)))
                     for w in words],
                    dtype="int64",
                ),
            })

    npieces = train.mapInPandas(seg_counts, "word string, n_pieces long")
    docw = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), " ")).alias("word")
    )
    return (
        docw.join(npieces, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("enc_words"),
            F.sum("n_pieces").alias("uni_tokens"),
            (F.floor(
                F.sum("n_pieces").cast("double") / F.count(F.lit(1))
                * F.lit(1e6) + F.lit(0.5)
            ) / F.lit(1e6)).alias("tokens_per_word"),
        )
    )


@query("td_unigram_tokenizer", oracle=_unigram_oracle())
def td_unigram_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (Kudo 2018 — the SentencePiece
    model) by hard-EM: seed vocab = all chars (coverage guarantee) +
    the top-{V} substrings (<= 4 chars) by freq-weighted occurrence;
    each EM round Viterbi-segments the word-frequency table under the
    current piece log-probs, prunes multi-char pieces that no optimal
    segmentation used, and re-estimates add-one-smoothed probabilities
    over the survivors.  Companion to td_bpe_train — the OTHER major
    subword algorithm, trained distributedly with the same contract:
    corpus touched once, per-round work on the distinct-word dimension
    table, driver traffic bounded by vocab size.

    Oracle: the complete unrolled Viterbi-EM replay (10-layer integer
    DP + backtrace per iteration) — training itself is hash-checked."""
    return unigram_train_frame(spark, table(spark, sf_dir, "documents"))


@query("td_unigram_encode", oracle=_unigram_encode_oracle())
def td_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION for the unigram-LM model — encode the
    corpus under the trained piece probabilities and report per-document
    piece counts and fertility (tokens per word), mirroring
    td_bpe_encode so the two subword algorithms are directly
    comparable on the same corpus.  Segmentation state lives on the
    DISTINCT-WORD table; documents reach it through one equi-join."""
    return unigram_encode_frame(spark, table(spark, sf_dir, "documents"))
