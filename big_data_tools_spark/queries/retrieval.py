"""Retrieval & LM-quality scoring over the document corpus (round-3
additions to the §2.11 LLM-data-pipeline surface).

Two classic text-pipeline scorers, both pure Catalyst expressions with
exact DuckDB twins:

- **BM25** (Robertson/Sparck Jones; the Okapi formula) — the lexical
  retrieval baseline every RAG stack starts from. Corpus statistics
  (df_t, avgdl, N) are computed distributed, the query's terms are a
  tiny literal set, and scoring is one shuffle per aggregation level —
  no all-pairs anything.
- **Unigram LM negative-log-likelihood** per document, rolled up by
  source — the shape of CCNet's LM-perplexity quality filter (Wenzek
  et al., LREC 2020): score each document against a language model
  trained on the corpus itself, flag outlier sources. A real pipeline
  swaps the unigram model for KenLM; the dataflow (model build ->
  broadcast -> per-token score -> two-level rollup) is identical.

Float policy: ln() last-ulp differences between engines are absorbed
by the functions/agg.py quantize-then-decimal-sum policy (same as the
oracle-green tfidf_top_terms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.agg import dmean, sql_dmean
from ..operators.portablemath import pln_sql
from ..operators.sampling import sql_md5_uniform
from ..io.sources import load_table
from ..operators.text import token_count, tokens
from .registry import register

# Fixed query for the BM25 demo: deterministic, present in every SF's
# synthetic vocabulary.
_BM25_TERMS = ("spark", "join", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20

_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

# Portable-ln idf pieces (r7 float policy): ln((N - df + 0.5)/(df + 0.5)
# + 1) simplifies algebraically to ln(2*(N+1)) - ln(2*df + 1), both
# integer-argument — evaluated via operators/portablemath.pln_sql so the
# bits match across engines (libm ln differs in the last ulp).
PLN_2N1 = pln_sql("2 * (s.n_docs + 1)")
PLN_2DF1 = pln_sql("2 * d.df + 1")

# Shared CTE chain: per-document BM25 for the literal term set. Used by
# both the lexical top-k oracle and the hybrid-fusion oracle so the two
# cannot drift.
_BM25_CTES = f"""
    toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ), doclen AS (
        SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                   AS dl
        FROM documents
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               sum(dl) * 1.0 / count(*) AS avgdl
        FROM doclen
    ), tf AS (
        SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
        FROM toks WHERE w IN ({_TERMS_SQL}) GROUP BY doc_id, w
    ), df_t AS (
        SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM tf GROUP BY w
    ), idf AS (
        -- ln((N - df + 0.5)/(df + 0.5) + 1) = ln(2*(N+1)) - ln(2*df+1):
        -- integer-argument portable ln (no libm, bit-identical engines)
        SELECT w,
               ({PLN_2N1} - {PLN_2DF1}) AS idf
        FROM df_t d CROSS JOIN stats s
    ), scored AS (
        SELECT t.doc_id,
               i.idf * t.tf * ({_BM25_K1} + 1)
               / (t.tf + {_BM25_K1} * (1 - {_BM25_B}
                  + {_BM25_B} * d.dl / s.avgdl)) AS term_score
        FROM tf t
        JOIN idf i USING (w)
        JOIN doclen d USING (doc_id)
        CROSS JOIN stats s
    ), bm AS (
        SELECT doc_id,
               round(CAST(sum(CAST(round(term_score, 6) AS DECIMAL(28,8)))
                          AS DOUBLE), 4) AS bm25
        FROM scored GROUP BY doc_id
    )
"""


def _bm25_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BM25 for the literal term set: (doc_id, bm25).

    Corpus stats distributed (df per term, global avgdl as a broadcast
    1-row aggregate); candidate set is docs CONTAINING a query term
    (inverted-index semantics via the early isin filter), never the
    full corpus x query product.
    """
    from ..operators.cache import track_cache

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    # doc-grain and (doc, term)-grain frames each feed two+ consumers;
    # persisting them keeps the corpus scan/explode at ONE pass instead
    # of five (PLANS.md caught the recompute)
    doclen = d.select("doc_id", token_count(F.col("text")).alias("dl")).persist()

    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") * F.lit(1.0) / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    idf = (
        tf.groupBy("w")
        .agg(F.count_distinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "w",
            # same algebraic form as the oracle CTE: ln(2*(N+1)) -
            # ln(2*df+1) via the portable no-libm ln
            (
                F.expr(pln_sql("2 * (n_docs + 1)"))
                - F.expr(pln_sql("2 * df + 1"))
            ).alias("idf"),
        )
    )
    term_score = (
        F.col("idf")
        * F.col("tf")
        * (_BM25_K1 + 1)
        / (
            F.col("tf")
            + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(idf), "w")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .select("doc_id", term_score.alias("term_score"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.round(
            F.sum(F.round(F.col("term_score"), 6).cast("decimal(28,8)")).cast(
                "double"
            ),
            4,
        ).alias("bm25")
    )
    return track_cache(per_doc, doclen, tf)


@register(
    "bm25_topk_docs",
    sql=f"""
    WITH {_BM25_CTES}
    SELECT doc_id, bm25 FROM bm
    ORDER BY bm25 DESC, doc_id ASC LIMIT {_BM25_TOPK}
    """,
    doc="Okapi BM25 top-k retrieval for a literal query term set: "
    "corpus stats distributed (df per term, global avgdl as a "
    "broadcast 1-row aggregate), per-(doc,term) scores summed with "
    "the quantized-decimal policy, TakeOrderedAndProject for the "
    "top-k. Scale shape: the only shuffles are the grouped tf/df "
    "aggregations — candidate set is docs CONTAINING a query term "
    "(inverted-index semantics via the early isin filter on the "
    "exploded tokens), never the full corpus x query product.",
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = _bm25_per_doc(spark, sf_dir)
    return per_doc.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(
        _BM25_TOPK
    )


@register(
    "doc_perplexity_by_source",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ), filtered AS (
        SELECT * FROM toks WHERE w <> ''
    ), model AS (
        SELECT w, CAST(count(*) AS BIGINT) AS tc
        FROM filtered GROUP BY w
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM filtered
    ), per_doc AS (
        -- -ln(tc/total) = pln(total) - pln(tc): integer-argument
        -- portable ln, bit-identical across engines (r7 float policy)
        SELECT doc_id, source,
               round(CAST(sum(CAST(round(
                   {pln_sql("t.n_tokens")} - {pln_sql("m.tc")}, 6)
                       AS DECIMAL(28,8)))
                          AS DOUBLE) / count(*), 6) + 0.0 AS nll
        FROM filtered f JOIN model m USING (w) CROSS JOIN tot t
        GROUP BY doc_id, source
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           {sql_dmean('nll', 3)} AS avg_nll
    FROM per_doc GROUP BY source
    """,
    doc="Unigram-LM quality scoring (the CCNet perplexity-filter "
    "shape): token probabilities from the corpus itself, per-document "
    "mean negative log-likelihood, rolled up per source. Scale shape: "
    "the model (vocab -> p) is a grouped count — bounded by vocabulary "
    "size, broadcast to the scoring join so the token stream never "
    "shuffles on the (power-law hot) token key; per-doc and per-source "
    "rollups are ordinary combiner-friendly aggregations. Swap the "
    "broadcast for an AQE skew join when the vocab outgrows the "
    "broadcast threshold (real subword vocabs don't).",
)
def doc_perplexity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", "source", F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
    )
    total = toks.agg(F.count(F.lit(1)).alias("n_tokens"))
    model = toks.groupBy("w").agg(F.count(F.lit(1)).alias("tc"))
    # -ln(tc/total) = pln(total) - pln(tc): portable integer-ln twin
    nll_t = F.expr(pln_sql("n_tokens")) - F.expr(pln_sql("tc"))
    per_doc = (
        toks.join(F.broadcast(model), "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "source")
        .agg(
            F.round(
                F.sum(F.round(nll_t, 6).cast("decimal(28,8)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("nll")
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        dmean("nll", 3).alias("avg_nll"),
    )


_RRF_K = 60
_RRF_CAND = 50
_RRF_TOPK = 20
_RRF_QUERY_VEC = 0  # embedding row used as the dense query vector


@register(
    "hybrid_rrf_topk",
    sql=f"""
    WITH {_BM25_CTES},
    lex AS (
        SELECT doc_id, lex_rank FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)
                       AS lex_rank
            FROM bm
        ) WHERE lex_rank <= {_RRF_CAND}
    ), qv AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id = {_RRF_QUERY_VEC}
    ), dense_scored AS (
        SELECT e.vec_id AS doc_id,
               round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                     / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(q.qv, q.qv))), 4) + 0.0 AS cos_sim
        FROM embeddings e CROSS JOIN qv q
        WHERE e.vec_id <> {_RRF_QUERY_VEC}
    ), dense AS (
        SELECT doc_id, dense_rank FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC)
                       AS dense_rank
            FROM dense_scored
        ) WHERE dense_rank <= {_RRF_CAND}
    )
    SELECT doc_id, rrf_score, lex_rank, dense_rank FROM (
        SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
               l.lex_rank, d.dense_rank,
               round(COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0)
                     + COALESCE(1.0 / ({_RRF_K} + d.dense_rank), 0), 6)
                   AS rrf_score
        FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
    )
    ORDER BY rrf_score DESC, doc_id ASC LIMIT {_RRF_TOPK}
    """,
    doc="Hybrid retrieval via reciprocal-rank fusion (Cormack et al., "
    "SIGIR 2009): fuse the BM25 lexical ranking with a dense cosine "
    "ranking against a fixed query embedding, score = sum of "
    "1/(60+rank) over the lists containing the doc. Each system "
    "contributes only its top-50 candidate list (rank via "
    "TakeOrderedAndProject-sized windows over single-partition "
    "candidate sets, bounded by _RRF_CAND — never the corpus), the "
    "fusion is a full-outer join of two tiny lists, and the final "
    "top-20 is deterministic (exact ranks; doc_id tie-break). At "
    "100 TB the corpus-side work is exactly the BM25 aggregation + "
    "one broadcast-query cosine pass; the fusion itself is O(cand).",
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.similarity import cosine

    # Cut to the candidate list FIRST via orderBy+limit — Spark plans
    # TakeOrderedAndProject (per-partition top-50, 50-row driver merge),
    # so the single-partition ranking window only ever sees 50 rows
    # instead of pulling the whole scored frame onto one task.
    lex = (
        _bm25_per_doc(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(_RRF_CAND)
        .withColumn(
            "lex_rank",
            F.row_number()
            .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
            .cast("long"),
        )
        .select("doc_id", "lex_rank")
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == _RRF_QUERY_VEC).select(
        F.col("embedding").alias("q_vec")
    )
    dense = (
        emb.filter(F.col("vec_id") != _RRF_QUERY_VEC)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("embedding"), F.col("q_vec")), 4).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("doc_id").asc())
        .limit(_RRF_CAND)
        .withColumn(
            "dense_rank",
            F.row_number()
            .over(Window.orderBy(F.col("cos_sim").desc(), F.col("doc_id").asc()))
            .cast("long"),
        )
        .select("doc_id", "dense_rank")
    )

    fused = lex.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("dense_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
        "lex_rank",
        "dense_rank",
    )
    return fused.orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc()).limit(
        _RRF_TOPK
    )


_SB_ALPHA = 0.4  # stupid-backoff discount (Brants et al. 2007)
_SB_TRAIN_FRAC = 0.7
_SB_SALT = "lm"


@register(
    "doc_bigram_backoff_nll",
    sql=f"""
    WITH fdocs AS (
        SELECT doc_id, lang,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS fl,
               {sql_md5_uniform('CAST(doc_id AS VARCHAR)', _SB_SALT)} AS u
        FROM documents
    ), train_toks AS (
        SELECT unnest(fl) AS w FROM fdocs WHERE u <= {_SB_TRAIN_FRAC}
    ), uni AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM train_toks GROUP BY w
    ), stats AS (
        -- totals from the unigram model itself (n = sum c1, v = rows):
        -- one aggregation over the vocab-bounded table instead of a
        -- second pass over the train token stream (r9, the
        -- corpus_ngram_entropy one-pass lesson)
        SELECT CAST(sum(c1) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS v
        FROM uni
    ), train_bg AS (
        SELECT unnest(fl[1:len(fl) - 1]) AS w1,
               unnest(fl[2:len(fl)]) AS w2
        FROM fdocs WHERE u <= {_SB_TRAIN_FRAC}
    ), bi AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        FROM train_bg GROUP BY w1, w2
    ), score_bg AS (
        SELECT doc_id, lang,
               unnest(fl[1:len(fl) - 1]) AS w1,
               unnest(fl[2:len(fl)]) AS w2
        FROM fdocs WHERE u > {_SB_TRAIN_FRAC}
    ), scored AS (
        -- per-token NLL computed directly in portable integer-ln form:
        -- seen: -ln(c12/c1) = pln(c1) - pln(c12);
        -- backoff: -ln(0.4*(c+1)/(n+v)) = pln(5*(n+v)) - pln(2*(c+1))
        -- (0.4 = 2/5 folded into the integer arguments)
        SELECT s.doc_id, s.lang,
               CASE WHEN bi.c12 IS NOT NULL
                    THEN {pln_sql("u1.c1")} - {pln_sql("bi.c12")}
                    ELSE {pln_sql("5 * (stats.n + stats.v)")}
                         - {pln_sql("2 * (coalesce(u2.c1, 0) + 1)")}
               END AS nll_t,
               CASE WHEN bi.c12 IS NULL THEN 1 ELSE 0 END AS backoff
        FROM score_bg s
        LEFT JOIN bi ON s.w1 = bi.w1 AND s.w2 = bi.w2
        LEFT JOIN uni u1 ON s.w1 = u1.w
        LEFT JOIN uni u2 ON s.w2 = u2.w
        CROSS JOIN stats
    ), per_doc AS (
        SELECT doc_id, lang,
               round(CAST(sum(CAST(round(nll_t, 6) AS DECIMAL(28,8)))
                          AS DOUBLE) / count(*), 6) + 0.0 AS nll,
               CAST(count(*) AS BIGINT) AS nb,
               CAST(sum(backoff) AS BIGINT) AS nbo
        FROM scored GROUP BY doc_id, lang
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nb) AS BIGINT) AS n_bigrams,
           round(CAST(sum(nbo) AS DOUBLE) / sum(nb), 6) AS backoff_rate,
           {sql_dmean('nll', 3)} AS avg_nll
    FROM per_doc GROUP BY lang
    """,
    doc="Bigram language-model quality scoring with STUPID BACKOFF "
    "(Brants et al. 2007, 'Large Language Models in Machine "
    "Translation' — the web-scale LM score: S(w2|w1) = c(w1 w2)/c(w1) "
    "if the bigram was seen, else 0.4 * add-one-smoothed unigram). "
    "The LM trains on a deterministic md5 70% document split and "
    "scores the held-out 30% — so the backoff path actually "
    "exercises (scoring the training corpus would never back off), "
    "and the emitted per-language backoff_rate doubles as an "
    "out-of-vocabulary drift diagnostic next to the avg_nll quality "
    "signal. Scale shape: the unigram model is vocab-bounded and "
    "broadcast; the bigram model can outgrow a broadcast, so the "
    "scoring join SHUFFLES on the (w1, w2) key — combiner-friendly "
    "counts on both sides, no all-pairs step; bigram extraction is "
    "pure array slicing inside the row (no self-join, unlike the "
    "oracle's positional form). Float policy: ln() quantized per "
    "token then decimal-summed (functions/agg.py).",
)
def doc_bigram_backoff_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import md5_uniform

    d = load_table(spark, sf_dir, "documents")
    fl = F.filter(tokens(F.col("text")), lambda x: x != "")
    fdocs = d.select(
        "doc_id",
        "lang",
        fl.alias("fl"),
        md5_uniform(F.col("doc_id").cast("string"), _SB_SALT).alias("u"),
    ).persist()
    train = fdocs.filter(F.col("u") <= _SB_TRAIN_FRAC)
    train_toks = train.select(F.explode("fl").alias("w"))
    # the unigram model feeds BOTH broadcast sides of the scoring join
    # plus the totals row — persist it so the train-token explode +
    # shuffle runs once, not three times (vocab-bounded, tiny)
    uni = train_toks.groupBy("w").agg(F.count(F.lit(1)).alias("c1")).persist()
    # totals from the model itself: n = sum c1, v = rows (identical to
    # counting the token stream, one cheap agg over the cached vocab)
    stats = uni.agg(
        F.sum("c1").alias("n"), F.count(F.lit(1)).alias("v")
    )

    def _bigrams(df: DataFrame, *extra: str) -> DataFrame:
        pair = F.explode(
            F.arrays_zip(
                F.slice(F.col("fl"), 1, F.greatest(F.size("fl") - 1, F.lit(0))).alias("w1"),
                F.slice(F.col("fl"), 2, F.greatest(F.size("fl") - 1, F.lit(0))).alias("w2"),
            )
        ).alias("bg")
        return df.select(*extra, pair).select(
            *extra, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
        )

    bi = _bigrams(train).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    score_bg = _bigrams(fdocs.filter(F.col("u") > _SB_TRAIN_FRAC), "doc_id", "lang")
    u1 = uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1_w2"))
    scored = (
        score_bg.join(bi, ["w1", "w2"], "left")  # shuffle join: bigram model
        .join(F.broadcast(u1), "w1", "left")
        .join(F.broadcast(u2), "w2", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "lang",
            # portable integer-ln form, mirroring the oracle CTE
            F.when(
                F.col("c12").isNotNull(),
                F.expr(pln_sql("c1_w1")) - F.expr(pln_sql("c12")),
            )
            .otherwise(
                F.expr(pln_sql("5 * (n + v)"))
                - F.expr(pln_sql("2 * (coalesce(c1_w2, 0) + 1)"))
            )
            .alias("nll_t"),
            F.when(F.col("c12").isNull(), 1).otherwise(0).alias("backoff"),
        )
    )
    per_doc = scored.groupBy("doc_id", "lang").agg(
        F.round(
            F.sum(F.round("nll_t", 6).cast("decimal(28,8)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("nll"),
        F.count(F.lit(1)).alias("nb"),
        F.sum("backoff").alias("nbo"),
    )
    out = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nb").alias("n_bigrams"),
        F.round(F.sum("nbo").cast("double") / F.sum("nb"), 6).alias("backoff_rate"),
        dmean("nll", 3).alias("avg_nll"),
    )
    from ..operators.cache import track_cache

    return track_cache(out, fdocs, uni)


# ---------------------------------------------------------------------------
# nDCG@k ranking evaluation (Järvelin & Kekäläinen 2002)
# ---------------------------------------------------------------------------

_NDCG_K = 10
# Discount weights round(1e6 / log2(rank+1)) for rank = 1..k, computed
# ONCE here and embedded as the SAME integer literals in both engines —
# log2 never runs inside either engine, so the twinned surface stays
# libm-free (r7 float policy). Gains are the standard 2^rel - 1 for the
# graded relevance rel in 0..3, also a literal table.
import math as _math

_NDCG_W = [round(1_000_000 / _math.log2(i + 1)) for i in range(1, _NDCG_K + 1)]
_NDCG_G = [0, 1, 3, 7]

_NDCG_W_SQL = "[" + ", ".join(str(w) for w in _NDCG_W) + "]"
_NDCG_G_SQL = "[" + ", ".join(str(g) for g in _NDCG_G) + "]"


@register(
    "bm25_ndcg_eval",
    sql=f"""
    WITH {_BM25_CTES},
    rel AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS rel
        FROM tf GROUP BY doc_id
    ), ranked AS (
        SELECT b.doc_id, r.rel,
               row_number() OVER (ORDER BY b.bm25 DESC, b.doc_id ASC)
                   AS rank
        FROM bm b JOIN rel r USING (doc_id)
    ), dcg AS (
        SELECT CAST(sum({_NDCG_G_SQL}[CAST(rel + 1 AS INTEGER)]
                        * {_NDCG_W_SQL}[CAST(rank AS INTEGER)])
                    AS BIGINT) AS dcg_micro
        FROM ranked WHERE rank <= {_NDCG_K}
    ), ideal AS (
        SELECT CAST(sum({_NDCG_G_SQL}[CAST(rel + 1 AS INTEGER)]
                        * {_NDCG_W_SQL}[CAST(irank AS INTEGER)])
                    AS BIGINT) AS idcg_micro
        FROM (
            SELECT rel,
                   row_number() OVER (ORDER BY rel DESC, doc_id ASC)
                       AS irank
            FROM rel
        ) WHERE irank <= {_NDCG_K}
    )
    SELECT CAST({_NDCG_K} AS INT) AS k, dcg_micro, idcg_micro,
           CASE WHEN idcg_micro = 0 THEN 0.0
                ELSE round(dcg_micro * 1.0 / idcg_micro, 6) END AS ndcg
    FROM dcg CROSS JOIN ideal
    """,
    doc="nDCG@10 evaluation of the BM25 ranking (Järvelin & "
    "Kekäläinen 2002) against a deterministic graded-relevance "
    "proxy (rel = number of distinct query terms the document "
    "contains, gain = 2^rel - 1): the retrieval-QUALITY audit "
    "that sits next to ann_recall_report on the search surface — "
    "'the ranker runs' is not 'the ranker ranks well'. DCG and "
    "ideal DCG are EXACT integer micro-unit sums: the 1/log2(rank+1) "
    "discounts are integer literals computed once at registration "
    "and shared verbatim by both engines, so no libm function "
    "touches the twinned surface and the sums are "
    "partition-order-free (r7 float policy). Scale shape: rides "
    "the shared BM25 CTE chain (inverted-index candidates, "
    "broadcast corpus stats), then two TakeOrdered top-10s and two "
    "1-row aggregates — the corpus never sorts globally.",
)
def bm25_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.text import tokens

    per_doc = _bm25_per_doc(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    rel = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.count_distinct("w").cast("bigint").alias("rel"))
        .persist()
    )
    gains = F.array(*[F.lit(g) for g in _NDCG_G])
    weights = F.array(*[F.lit(w) for w in _NDCG_W])
    top = (
        per_doc.join(rel, "doc_id")
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_NDCG_K)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
            ),
        )
    )
    dcg = top.agg(
        F.sum(
            F.element_at(gains, (F.col("rel") + 1).cast("int"))
            * F.element_at(weights, F.col("rank").cast("int"))
        )
        .cast("bigint")
        .alias("dcg_micro")
    )
    ideal_top = (
        rel.orderBy(F.desc("rel"), F.asc("doc_id"))
        .limit(_NDCG_K)
        .withColumn(
            "irank",
            F.row_number().over(Window.orderBy(F.desc("rel"), F.asc("doc_id"))),
        )
    )
    idcg = ideal_top.agg(
        F.sum(
            F.element_at(gains, (F.col("rel") + 1).cast("int"))
            * F.element_at(weights, F.col("irank").cast("int"))
        )
        .cast("bigint")
        .alias("idcg_micro")
    )
    ndcg = F.when(F.col("idcg_micro") == 0, F.lit(0.0)).otherwise(
        F.round(F.col("dcg_micro") * F.lit(1.0) / F.col("idcg_micro"), 6)
    )
    from ..operators.cache import track_cache

    out = dcg.crossJoin(F.broadcast(idcg)).select(
        F.lit(_NDCG_K).cast("int").alias("k"),
        "dcg_micro",
        "idcg_micro",
        ndcg.alias("ndcg"),
    )
    return track_cache(out, rel)
