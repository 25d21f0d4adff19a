"""Text-analysis queries over the documents table (SURVEY.md §2.11).

The stopword/quality/lang-id formulas live in operators/text.py; each
oracle twin re-states the same arithmetic in DuckDB SQL. Per-document
expressions are bit-identical across engines (same IEEE ops on the
same values); only cross-row aggregates need the round() guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.agg import dmean, sql_dmean
from ..io.sources import load_table
from ..operators.partitioning import fan_out
from ..operators.text import (
    LANG_MARKERS,
    STOPWORDS_EN,
    avg_token_len,
    fingerprint,
    lang_id_from_tokens,
    quality_score_from_tokens,
    token_count,
    tokens,
)
from ..operators.portablemath import pln_ratio_sql
from .registry import register

_SW = ", ".join(f"'{w}'" for w in STOPWORDS_EN)


@register(
    "doc_token_stats",
    sql=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(len(string_split(lower(text), ' '))), 2) + 0.0 AS avg_tokens,
           round(avg(length(text)), 2) AS avg_chars,
           {sql_dmean("list_aggregate(list_transform(string_split(lower(text), ' '), "
                      "t -> length(t)), 'sum') * 1.0 "
                      "/ len(string_split(lower(text), ' '))", 2)} AS avg_token_len
    FROM documents GROUP BY lang
    """,
    doc="Token counting + length stats per language facet (north-star "
    "text analysis; pure expressions, no UDF).",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    t = F.col("text")
    return (
        d.select(
            "lang",
            token_count(t).alias("n_tok"),
            F.length(t).alias("n_char"),
            avg_token_len(t).alias("atl"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_tok"), 2).alias("avg_tokens"),
            F.round(F.avg("n_char"), 2).alias("avg_chars"),
            dmean("atl", 2).alias("avg_token_len"),
        )
    )


@register(
    "doc_quality_by_source",
    sql=f"""
    WITH scored AS (
        SELECT source,
               len(string_split(lower(text), ' ')) AS n_tok,
               len(list_filter(string_split(lower(text), ' '),
                   t -> t IN ({_SW}))) AS sw_hits,
               length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_bad,
               length(lower(text)) AS n_chars
        FROM documents
    ), q AS (
        SELECT source,
               least(n_tok / 100.0, 1.0) * 0.4
             + least((sw_hits * 1.0 / n_tok) * 4, 1.0) * 0.3
             + greatest(0.0, 1.0 - (n_bad * 1.0 / n_chars) * 5) * 0.3 AS quality
        FROM scored
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           {sql_dmean('quality', 3)} AS avg_quality
    FROM q GROUP BY source
    """,
    doc="Heuristic quality scoring (length/stopword/punctuation terms) "
    "averaged per source facet (north-star text analysis).",
)
def doc_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    return (
        d.select(
            "source",
            quality_score_from_tokens(tokens(F.col("text")), F.col("text")).alias("quality"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            dmean("quality", 3).alias("avg_quality"),
        )
    )


def _lang_case_sql() -> str:
    """CASE chain mirroring operators.text.lang_id exactly."""
    hits = {
        lang: (
            f"len(list_filter(string_split(lower(text), ' '), "
            f"t -> t IN ({', '.join(repr(w) for w in ws)})))"
        )
        for lang, ws in LANG_MARKERS.items()
    }
    clauses = []
    for lang in LANG_MARKERS:
        conds = [f"{hits[lang]} > 0"] + [
            f"{hits[lang]} > {hits[o]}" for o in LANG_MARKERS if o != lang
        ]
        clauses.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + " ELSE 'unknown' END"


@register(
    "lang_id_confusion",
    sql=f"""
    SELECT lang, {_lang_case_sql()} AS pred_lang, CAST(count(*) AS BIGINT) AS n
    FROM documents GROUP BY 1, 2
    """,
    doc="n-gram/stopword-marker language ID (north-star): argmax of "
    "per-language marker hits, confusion counts vs the labeled lang.",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    # tokenize ONCE into a projected column; the argmax CASE chain then
    # reads the array 5x without re-splitting the text 5x
    toked = d.select("lang", tokens(F.col("text")).alias("toks"))
    return (
        toked.select("lang", lang_id_from_tokens(F.col("toks")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "doc_fingerprints",
    sql="""
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
           CAST(count(*) OVER (
               PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
           ) AS BIGINT) AS n_same
    FROM documents
    """,
    doc="Document fingerprinting (north-star): md5 over normalized "
    "content + same-fingerprint group size via window count.",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("fp")
    return (
        d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .withColumn("n_same", F.count(F.lit(1)).over(w).cast("long"))
    )


@register(
    "doc_bpe_token_estimate",
    sql=r"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))) AS BIGINT)
               AS total_tokens,
           round(avg(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))), 2) + 0.0
               AS avg_tokens,
           round(CAST(sum(length(text)) AS DOUBLE)
                 / sum(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))), 3) + 0.0
               AS chars_per_token
    FROM documents GROUP BY source
    """,
    doc="BPE-ish token estimation per source (north-star text "
    "analysis): GPT-style pre-tokenizer regex restricted to the "
    "RE2/Java-regex common subset, counted JVM-side with "
    "regexp_count — the no-vocab corpus cost estimator. "
    "chars/token ~3-4 sanity-checked in tests.",
)
def doc_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bpe_ish_token_count

    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    n_tok = bpe_ish_token_count(F.col("text"))
    per_doc = d.select("source", n_tok.alias("n_tok"), F.length("text").alias("n_char"))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.round(F.avg("n_tok"), 2).alias("avg_tokens"),
        F.round(
            F.sum("n_char").cast("double") / F.sum("n_tok"), 3
        ).alias("chars_per_token"),
    )


@register(
    "tfidf_top_terms",
    sql="""
    WITH tok AS (
        SELECT doc_id, lang,
               unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
        FROM documents
    ), tok3 AS (
        SELECT * FROM tok WHERE length(term) >= 3
    ), n AS (
        SELECT count(DISTINCT doc_id) AS n_docs FROM documents
    ), dfreq AS (
        SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM tok3 GROUP BY term
    ), lc AS (
        SELECT lang, term, CAST(count(*) AS BIGINT) AS cnt
        FROM tok3 GROUP BY lang, term
    ), r AS (
        SELECT l.lang, l.term, l.cnt, d.df, n.n_docs,
               row_number() OVER (PARTITION BY l.lang
                                  ORDER BY l.cnt DESC, l.term) AS rank
        FROM lc l JOIN dfreq d USING (term), n
        WHERE d.df * 2 < n.n_docs
    )
    SELECT lang, CAST(rank AS INT) AS rank, term, cnt,
           round(__PLN_IDF__, 4) + 0.0 AS idf
    FROM r WHERE rank <= 5
    """.replace(
        # smoothed idf = ln((N+1)/(df+1)) on integer args, via the
        # portable no-libm ln (r7 float policy — libm last-ulp drift)
        "__PLN_IDF__", pln_ratio_sql("n_docs + 1", "df + 1")
    ),
    doc="TF-IDF-style top terms per language (north-star text "
    "analysis): tokenize JVM-side, document frequency over the "
    "corpus, drop corpus-stopwords (df*2 >= N), rank the survivors "
    "per lang. Ranking is on integer counts with a lexical "
    "tie-break, so the top-5 is engine-deterministic; the smoothed "
    "idf = ln((N+1)/(df+1)) rides along as a score column. The "
    "1-row N aggregate is broadcast, never collected (SURVEY.md "
    "§4.3 scalar fix).",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"),
    ).filter(F.length("term") >= 3)
    dfreq = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    lang_cnt = tok.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("cnt"))
    joined = (
        lang_cnt.join(dfreq, on="term")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * 2 < F.col("n_docs"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("term"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "lang",
            "rank",
            "term",
            "cnt",
            F.round(
                F.expr(pln_ratio_sql("n_docs + 1", "df + 1")), 4
            ).alias("idf"),
        )
    )


def winnow_fps_sql(table: str = "documents") -> str:
    """Per-doc winnowing fingerprint sets ``(doc_id, fps)`` in DuckDB
    SQL — the identical normalize -> char-code -> Rabin-Karp k-gram
    hash -> w-window minimum -> distinct arithmetic as
    :func:`big_data_tools_spark.operators.text.with_winnow_fingerprints`
    (bit-identical bigints, verified by the oracle gate)."""
    from ..operators.text import WINNOW_BASE, WINNOW_K, WINNOW_MOD, WINNOW_W

    k, w, b, m = WINNOW_K, WINNOW_W, WINNOW_BASE, WINNOW_MOD
    return f"""
    WITH __wn_norm AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
                            '[^ -~]', '', 'g') AS t
      FROM {table}
    ), __wn_codes AS (
      SELECT doc_id,
             list_transform(string_split(t, ''), c -> CAST(ord(c) AS BIGINT)) AS cs
      FROM __wn_norm
    ), __wn_hashes AS (
      SELECT doc_id, cs,
             list_transform(range(1, len(cs) - {k - 1} + 1),
               i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                                             list_slice(cs, i, i + {k - 1})),
                                (acc, c) -> (acc * {b} + c) % {m})) AS hs
      FROM __wn_codes
    )
    SELECT doc_id,
           CASE WHEN len(cs) >= {k + w - 1} THEN
             list_distinct(list_transform(range(1, len(hs) - {w - 1} + 1),
               i -> list_min(list_slice(hs, i, i + {w - 1}))))
           ELSE CAST([] AS BIGINT[]) END AS fps
    FROM __wn_hashes
    """


@register(
    "doc_winnow_stats",
    sql=f"""
    SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_fps,
           list_min(fps) AS min_fp,
           list_max(fps) AS max_fp
    FROM ({winnow_fps_sql()})
    """,
    doc="Rolling-hash winnowing fingerprints (Schleimer et al. SIGMOD "
    "2003) per document: k-gram Rabin-Karp hashes, w-window minima, "
    "distinct — all pure column expressions, oracle-checked bigint-"
    "identical against DuckDB. Emits per-doc count/min/max (scalar "
    "shape for the driver canonicalizer).",
)
def doc_winnow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import with_winnow_fingerprints

    d = load_table(spark, sf_dir, "documents")
    fps = with_winnow_fingerprints(d.select("doc_id", "text"), "text", "fps")
    return fps.select(
        "doc_id",
        F.size("fps").cast("bigint").alias("n_fps"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
    )


def _pii_sql() -> str:
    """DuckDB twin for pii_scrub_audit, generated from PII_PATTERNS so
    the two engines always share the exact pattern strings."""
    from ..operators.text import PII_PATTERNS

    inject = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
        " || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'"
        " || CAST((doc_id * 7) % 256 AS VARCHAR)"
        " || ' card 4111 1111 1111 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' tel 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    )
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    scrub = "text"
    for _, pat, token in PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pat}', '{token}', 'g')"
    return f"""
    WITH injected AS (SELECT doc_id, {inject} AS text FROM documents)
    SELECT doc_id, {counts}, md5({scrub}) AS scrub_fp
    FROM injected
    """


@register(
    "pii_scrub_audit",
    sql=_pii_sql(),
    doc="PII scrubbing (north-star pre-training cleanup): typed-token "
    "redaction of emails/IPv4/credit-card/SSN/phone shapes via chained "
    "JVM-side regexp_replace (Java-regex/RE2 common subset — the same "
    "pattern strings run on both engines). Deterministic PII derived "
    "from doc_id is appended to each document so the scrub demonstrably "
    "fires; output is per-doc counts by kind plus the md5 of the "
    "scrubbed text, oracle-checked hash-identical against DuckDB.",
)
def pii_scrub_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import pii_counts, scrub_pii

    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did.cast("string"), F.lit("@example.com"),
            F.lit(" ip 10.0."), (did % 256).cast("string"),
            F.lit("."), ((did * 7) % 256).cast("string"),
            F.lit(" card 4111 1111 1111 "),
            F.lpad((did % 10000).cast("string"), 4, "0"),
            F.lit(" ssn 123-45-"), F.lpad((did % 10000).cast("string"), 4, "0"),
            F.lit(" tel 415-555-"), F.lpad((did % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return injected.select(
        "doc_id",
        *pii_counts(F.col("text")),
        F.md5(scrub_pii(F.col("text"))).alias("scrub_fp"),
    )


@register(
    "boilerplate_ngrams",
    sql="""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 2),
                      i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM toks WHERE len(t) >= 3
    )
    SELECT shingle, CAST(count(*) AS BIGINT) AS doc_freq
    FROM sh GROUP BY 1
    ORDER BY doc_freq DESC, shingle LIMIT 20
    """,
    doc="Boilerplate / heavy-hitter 3-gram detection (north-star "
    "extension): the top-20 shingles by document frequency — the "
    "list a cleaning pass strips and the df-cap tiers (jaccard_pairs, "
    "ngram_contamination) drop. Grouped count + TakeOrderedAndProject: "
    "only 20 rows ever reach the driver, no global sort.",
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import shingle_index

    d = load_table(spark, sf_dir, "documents")
    idx = shingle_index(d, "text", "doc_id", 3, hashed=False)
    return (
        idx.groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("shingle"))
        .limit(20)
    )


@register(
    "doc_repetition_by_source",
    sql=f"""
    WITH scored AS (
        SELECT source,
               CASE WHEN len(string_split(lower(text), ' ')) >= 3 THEN
                   1.0 - len(list_distinct(list_transform(
                             generate_series(1, len(string_split(lower(text), ' ')) - 2),
                             i -> array_to_string(string_split(lower(text), ' ')[i:i+2], ' '))))
                         / CAST(len(string_split(lower(text), ' ')) - 2 AS DOUBLE)
               ELSE 0.0 END AS rep
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           {sql_dmean('rep', 4)} AS avg_repetition,
           CAST(sum(CASE WHEN rep > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS high_rep_docs
    FROM scored GROUP BY 1
    """,
    doc="Gopher-style intra-doc repetition filter (Rae et al. 2021 "
    "A1.1): fraction of 3-gram occurrences that repeat, rolled up per "
    "source with a >0.1 flag count. Pure expression + one grouped agg.",
)
def doc_repetition_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import repetition_ratio

    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    rep = d.select("source", repetition_ratio(F.col("text"), 3).alias("rep"))
    return rep.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        dmean("rep", 4).alias("avg_repetition"),
        F.sum(F.when(F.col("rep") > 0.1, 1).otherwise(0)).cast("bigint").alias("high_rep_docs"),
    )


@register(
    "doc_quality_auc",
    sql=f"""
    WITH scored AS (
        SELECT lang = 'en' AS is_pos,
               round(least(n_tok / 100.0, 1.0) * 0.4
                   + least((sw_hits * 1.0 / n_tok) * 4, 1.0) * 0.3
                   + greatest(0.0, 1.0 - (n_bad * 1.0 / n_chars) * 5) * 0.3,
                   4) + 0.0 AS q
        FROM (
            SELECT lang,
                   len(string_split(lower(text), ' ')) AS n_tok,
                   len(list_filter(string_split(lower(text), ' '),
                       t -> t IN ({_SW}))) AS sw_hits,
                   length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
                       AS n_bad,
                   length(lower(text)) AS n_chars
            FROM documents
        )
    ), grain AS (
        SELECT q,
               CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_c,
               CAST(sum(CASE WHEN is_pos THEN 0 ELSE 1 END) AS BIGINT) AS neg_c
        FROM scored GROUP BY q
    ), cum AS (
        SELECT pos_c, neg_c,
               CAST(coalesce(sum(neg_c) OVER (ORDER BY q
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS neg_below
        FROM grain
    )
    SELECT CAST(sum(pos_c) AS BIGINT) AS n_pos,
           CAST(sum(neg_c) AS BIGINT) AS n_neg,
           round(CAST(sum(2 * pos_c * neg_below + pos_c * neg_c) AS DOUBLE)
                 / (2.0 * sum(pos_c) * sum(neg_c)), 6) AS auc
    FROM cum
    """,
    doc="Rank-sum AUC (Mann-Whitney U) of the heuristic quality score "
    "as a classifier for lang='en' — the eval-metric that says "
    "whether a score SEPARATES populations without picking a "
    "threshold, here auditing that the stopword-ratio term leaks "
    "language signal into 'quality' (a real pretraining-pipeline "
    "failure mode: English-biased quality filters). Scale shape: one "
    "grouped count at the QUANTIZED-score grain (<= 10^4 rows at 4 "
    "decimals, however large the corpus), then the tie-aware U "
    "statistic as integer arithmetic over that tiny frame — "
    "2*pos*neg_below + pos*neg ties keeps every term integral, one "
    "rounded division at the end, so the DuckDB twin hash-matches "
    "bit-for-bit. No global rank window over the corpus (the naive "
    "rank-sum form) — the score-grain cumulative replaces it.",
)
def doc_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toked = d.select(
        (F.col("lang") == "en").alias("is_pos"),
        F.round(
            quality_score_from_tokens(tokens(F.col("text")), F.col("text")), 4
        ).alias("q"),
    )
    grain = toked.groupBy("q").agg(
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).alias("pos_c"),
        F.sum(F.when(F.col("is_pos"), 0).otherwise(1)).alias("neg_c"),
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    cum = grain.select(
        "pos_c",
        "neg_c",
        F.coalesce(F.sum("neg_c").over(w), F.lit(0)).alias("neg_below"),
    )
    return cum.agg(
        F.sum("pos_c").cast("bigint").alias("n_pos"),
        F.sum("neg_c").cast("bigint").alias("n_neg"),
        F.round(
            F.sum(
                2 * F.col("pos_c") * F.col("neg_below")
                + F.col("pos_c") * F.col("neg_c")
            ).cast("double")
            / (2.0 * F.sum("pos_c") * F.sum("neg_c")),
            6,
        ).alias("auc"),
    )


_BPE_RE_SQL = r"' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'"


@register(
    "doc_tokenizer_fertility",
    sql=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
               AS total_words,
           CAST(sum(len(regexp_extract_all(text, {_BPE_RE_SQL})))
               AS BIGINT) AS total_tokens,
           CASE WHEN sum(len(string_split(lower(text), ' '))) = 0 THEN 0.0
                ELSE round(
                    sum(len(regexp_extract_all(text, {_BPE_RE_SQL}))) * 1.0
                    / sum(len(string_split(lower(text), ' '))), 4) + 0.0
           END AS fertility,
           CASE WHEN sum(len(regexp_extract_all(text, {_BPE_RE_SQL}))) = 0
                THEN 0.0
                ELSE round(
                    sum(length(text)) * 1.0
                    / sum(len(regexp_extract_all(text, {_BPE_RE_SQL}))), 4) + 0.0
           END AS chars_per_token
    FROM documents GROUP BY lang
    """,
    doc="Tokenizer fertility by language (Rust et al. 2021; ACL "
    "2021's multilingual-tokenizer equity metric): subword tokens "
    "per whitespace word and chars per token, per lang facet — THE "
    "read for spotting languages a tokenizer over-fragments (high "
    "fertility = more compute and effective-context loss for the "
    "same text; the reason BLOOM/XGLM retrained their vocabs). "
    "Tokens come from the same GPT-style pre-tokenizer regex as "
    "doc_bpe_token_estimate; words from the doc_token_stats "
    "whitespace split, so the three text-cost surfaces agree. All "
    "cross-row sums are exact BIGINTs; the two ratios are final "
    "divisions of engine-identical integers (r7 float policy rule "
    "3), zero-denominator-guarded identically in both engines (a "
    "facet with no tokenizable runs reports 0.0, never an "
    "engine-dependent inf/NULL). Scale shape: one corpus scan, "
    "per-row JVM regex counts, "
    "one combiner-friendly grouped agg on the bounded lang key.",
)
def doc_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bpe_ish_token_count

    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    t = F.col("text")
    per_doc = d.select(
        "lang",
        token_count(t).alias("n_words"),
        bpe_ish_token_count(t).alias("n_tok"),
        F.length(t).alias("n_char"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        # Zero-denominator guard (ADVICE r7): a lang facet whose texts
        # contain no tokenizable runs would otherwise yield NULL in
        # Spark but engine-dependent inf/NULL in DuckDB float division.
        F.when(F.sum("n_words") == 0, F.lit(0.0))
        .otherwise(F.round(F.sum("n_tok") * F.lit(1.0) / F.sum("n_words"), 4))
        .alias("fertility"),
        F.when(F.sum("n_tok") == 0, F.lit(0.0))
        .otherwise(F.round(F.sum("n_char") * F.lit(1.0) / F.sum("n_tok"), 4))
        .alias("chars_per_token"),
    )
