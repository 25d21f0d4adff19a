"""Composed pretraining-corpus pipeline (SURVEY.md §2.11 capstone):
the north-star text ops chained the way a real 100 TB corpus build
chains them — PII scrub -> quality score -> language ID -> exact dedup
-> per-source stats — in ONE declarative plan.

Everything stays a single Catalyst plan: the scrub/score/lang steps
are narrow projections (no shuffle), dedup is one window over the
content fingerprint, and the final rollup is one grouped aggregate —
two shuffles for the whole pipeline regardless of corpus size (plus
the fan_out input-spread guard, which no-ops on well-split inputs).
The DuckDB twin composes the same SQL fragments the individual
queries pin, so the composition is oracle-checked end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.agg import dmean, sql_dmean
from ..io.sources import load_table
from ..operators.partitioning import fan_out
from ..operators.portablemath import pln_sql
from ..operators.text import (
    PII_PATTERNS,
    STOPWORDS_EN,
    fingerprint,
    lang_id_from_tokens,
    quality_score_from_tokens,
    scrub_pii,
    token_count,
    tokens,
)
from .registry import register
from .text import _lang_case_sql

_QUALITY_MIN = 0.5
_KEEP_LANG = "en"
_SW = ", ".join(f"'{w}'" for w in STOPWORDS_EN)


def _corpus_sql() -> str:
    scrub = "text"
    for _, pat, token in PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pat}', '{token}', 'g')"
    quality = (
        "least(n_tok / 100.0, 1.0) * 0.4"
        " + least((sw_hits * 1.0 / n_tok) * 4, 1.0) * 0.3"
        " + greatest(0.0, 1.0 - (n_bad * 1.0 / n_chars) * 5) * 0.3"
    )
    return f"""
    WITH scrubbed AS (
        SELECT doc_id, source, {scrub} AS text FROM documents
    ), scored AS (
        SELECT doc_id, source,
               len(string_split(lower(text), ' ')) AS n_tok,
               len(list_filter(string_split(lower(text), ' '),
                   t -> t IN ({_SW}))) AS sw_hits,
               length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_bad,
               length(lower(text)) AS n_chars,
               {_lang_case_sql()} AS pred_lang,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
        FROM scrubbed
    ), kept AS (
        SELECT doc_id, source, n_tok, fp, {quality} AS quality
        FROM scored
        WHERE {quality} >= {_QUALITY_MIN} AND pred_lang = '{_KEEP_LANG}'
    ), deduped AS (
        SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM kept
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           {sql_dmean('quality', 3)} AS avg_quality
    FROM deduped WHERE doc_id = keep_id
    GROUP BY source
    """


def curated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KEPT documents after scrub -> score -> lang-ID -> exact
    dedup — the frame the rollup query aggregates and the corpus-build
    CLI (pipeline/corpus_build.py) writes out. Columns: doc_id,
    source, text (scrubbed), n_tok, quality, pred_lang.

    Plan-shape note: filtering directly on computed quality/pred_lang
    columns lets predicate pushdown inline the WHOLE scoring
    expression tree below the fan_out repartition — the filter then
    runs single-task on the raw input AND every score is computed
    twice (measured 3.8s vs 1.3s at sf0.1). Instead the scores ride
    through the dedup Window (same fp partitioning, so they are
    per-partition constants and min() is the identity): the Window is
    a natural pushdown barrier — each score is computed exactly once,
    after the shuffle, on all cores. Cost: the fp shuffle carries the
    sub-threshold rows too (~30% here); the win: no double compute,
    no single-task filter. Consumers that don't select ``text`` pay
    nothing for it (column pruning drops the passthrough).
    """
    return curate_frame(fan_out(load_table(spark, sf_dir, "documents"), "doc_id"))


def curate_frame(d: DataFrame) -> DataFrame:
    """Frame-level core of :func:`curated_documents`: curate ANY
    documents-shaped frame (doc_id, source, text) — the streaming
    ingest sink (streaming/corpus.py) runs it per micro-batch. Keeps
    the content fingerprint ``fp`` in the output (the dedup index
    key); batch-rollup consumers never pay for it (column pruning)."""
    scrubbed = d.withColumn("text", scrub_pii(F.col("text")))
    toked = scrubbed.withColumn("toks", tokens(F.col("text"))).withColumn(
        "fp", fingerprint(F.col("text"))
    )
    w = Window.partitionBy("fp")
    staged = toked.select(
        "doc_id",
        "source",
        "text",
        "fp",
        token_count(F.col("text")).alias("n_tok"),
        F.min("doc_id").over(w).alias("keep_id"),
        F.min(
            quality_score_from_tokens(F.col("toks"), F.col("text"))
        ).over(w).alias("quality"),
        F.min(lang_id_from_tokens(F.col("toks"))).over(w).alias("pred_lang"),
    )
    return staged.filter(
        (F.col("quality") >= _QUALITY_MIN)
        & (F.col("pred_lang") == _KEEP_LANG)
        & (F.col("doc_id") == F.col("keep_id"))
    ).drop("keep_id")


@register(
    "pretraining_corpus_pipeline",
    sql=_corpus_sql(),
    doc="Capstone composition of the north-star text ops as one "
    "Catalyst plan: PII scrub (chained regexp_replace) -> heuristic "
    "quality score -> marker-argmax language ID -> exact dedup (min "
    "doc per md5 fingerprint, one window) -> per-source corpus stats. "
    "Narrow projections until the dedup window; two shuffles total at "
    "any corpus size. Oracle twin composes the same SQL fragments the "
    "per-op queries pin, so the composition is checked end to end.",
)
def pretraining_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    kept = curated_documents(spark, sf_dir)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        dmean("quality", 3).alias("avg_quality"),
    )


_TEST_MOD = 17  # doc_id % 17 == 0 -> held-out pseudo-benchmark split


@register(
    "benchmark_contamination",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 4),
                      i -> array_to_string(t[i:i+4], ' '))) AS shingle
        FROM toks WHERE len(t) >= 5
    ), tr AS (
        SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % {_TEST_MOD} <> 0
    ), trc AS (
        SELECT tr.train_id, tr.shingle FROM tr
        JOIN (SELECT shingle FROM tr GROUP BY 1
              HAVING count(*) <= 10000) ok USING (shingle)
    ), te AS (
        SELECT doc_id AS test_id, shingle FROM sh WHERE doc_id % {_TEST_MOD} = 0
    ), shared AS (
        SELECT train_id, test_id, CAST(count(*) AS BIGINT) AS shared
        FROM trc JOIN te USING (shingle) GROUP BY 1, 2
    )
    SELECT train_id,
           CAST(count(*) AS BIGINT) AS n_test_docs,
           CAST(max(shared) AS BIGINT) AS max_shared
    FROM shared GROUP BY 1
    """,
    doc="Benchmark-contamination report (north-star extension): "
    "training docs sharing any 5-gram with the held-out eval split "
    "(doc_id % 17 == 0 stands in for a benchmark table). Inverted-"
    "index join with the eval side broadcast — the 100 TB train "
    "corpus never shuffles. See operators/contamination.py.",
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.contamination import ngram_contamination

    d = load_table(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % _TEST_MOD != 0)
    test = d.filter(F.col("doc_id") % _TEST_MOD == 0)
    return ngram_contamination(train, test, "text", "doc_id", n=5, min_shared=1)


@register(
    "token_shard_packing",
    sql="""
    WITH toks AS (
        SELECT doc_id, doc_id % 8 AS bucket,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
        FROM documents
    ), packed AS (
        SELECT doc_id, bucket, n_tok,
               CAST(floor((sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n_tok) / 2000.0)
                    AS BIGINT) AS shard
        FROM toks
    )
    SELECT bucket, shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM packed GROUP BY 1, 2
    """,
    doc="Token-budget shard packing manifest (north-star extension): "
    "greedy running-sum pack of docs into ~2000-token training shards, "
    "bucketed (doc_id % 8) so each pack window is an independent task "
    "instead of one global-sort task. See operators/packing.py.",
)
def token_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_token_shards, shard_manifest

    d = load_table(spark, sf_dir, "documents")
    return shard_manifest(pack_token_shards(d, "text", "doc_id", budget=2000, n_buckets=8))


_MIXTURE = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
_MIX_CASE = " ".join(
    f"WHEN '{s}' THEN CAST({w} AS DOUBLE)" for s, w in _MIXTURE.items()
)


@register(
    "source_mixture_plan",
    sql=f"""
    WITH counts AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_rows
        FROM documents GROUP BY 1
    ), wt AS (
        SELECT source, n_rows,
               CASE source {_MIX_CASE} ELSE CAST(0 AS DOUBLE) END AS tgt
        FROM counts
    ), cap AS (
        SELECT min(n_rows / tgt) AS cap FROM wt WHERE tgt > 0
    )
    SELECT source, n_rows,
           CASE WHEN tgt > 0 THEN (tgt * cap) / n_rows ELSE 0.0 END AS keep_frac,
           CAST(floor(n_rows * (CASE WHEN tgt > 0 THEN (tgt * cap) / n_rows
                                     ELSE 0.0 END)) AS BIGINT) AS expected_rows
    FROM wt, cap
    """,
    doc="Domain-mixture rebalancing plan (north-star extension): "
    "per-source keep fractions that downsample to a target mixture "
    "without upsampling (fixed-weight DoReMi-style step). Grouped "
    "count + distributed scalar min via 1-row broadcast cross join; "
    "feed to stratified_hash_sample for the deterministic sample. "
    "See operators/sampling.py:mixture_rebalance_plan.",
)
def source_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import mixture_rebalance_plan

    d = load_table(spark, sf_dir, "documents")
    return mixture_rebalance_plan(d, "source", _MIXTURE)


_CHUNK_SIZE = 400
_CHUNK_STRIDE = 300  # 100-char overlap


@register(
    "doc_chunk_windows",
    sql=f"""
    WITH base AS (
        SELECT doc_id, text,
               unnest(generate_series(0,
                   CAST(greatest(ceil((length(text) - {_CHUNK_SIZE})
                                      / {_CHUNK_STRIDE}.0), 0) AS BIGINT)))
                   AS chunk_id
        FROM documents
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           substring(text, CAST(chunk_id * {_CHUNK_STRIDE} + 1 AS INT),
                     {_CHUNK_SIZE}) AS chunk,
           CAST(length(substring(text,
                CAST(chunk_id * {_CHUNK_STRIDE} + 1 AS INT),
                {_CHUNK_SIZE})) AS BIGINT) AS chunk_chars
    FROM base
    """,
    doc="Overlapping document chunking (the context-window prep step "
    "every RAG / pretraining pipeline runs): fixed-size windows with "
    "stride, one output row per chunk. Pure expressions — a sequence "
    "of chunk starts exploded then substring'd; no UDF, no shuffle "
    "(chunking rides the scan). Chunk count per doc is "
    "ceil((len - size) / stride) + 1, so tail text is always covered; "
    "deterministic ids (doc_id, chunk_id) keep downstream dedup and "
    "shard packing reproducible.",
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_chunks = F.greatest(
        F.ceil((F.length("text") - _CHUNK_SIZE) / _CHUNK_STRIDE), F.lit(0)
    ).cast("long")
    chunks = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks)).alias("chunk_id"),
    )
    chunk = F.substring(
        F.col("text"), (F.col("chunk_id") * _CHUNK_STRIDE + 1).cast("int"), _CHUNK_SIZE
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        chunk.alias("chunk"),
        F.length(chunk).cast("long").alias("chunk_chars"),
    )


_VOCAB_SIZE = 200
_VOCAB_MIN_COUNT = 10


@register(
    "corpus_vocabulary",
    sql=f"""
    WITH words AS (
        SELECT unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ), counts AS (
        SELECT w, CAST(count(*) AS BIGINT) AS freq
        FROM words WHERE w <> '' GROUP BY w
        HAVING count(*) >= {_VOCAB_MIN_COUNT}
    )
    SELECT CAST(row_number() OVER (ORDER BY freq DESC, w ASC) AS BIGINT)
               AS token_id,
           w AS token, freq
    FROM counts
    ORDER BY token_id LIMIT {_VOCAB_SIZE}
    """,
    doc="Vocabulary construction (tokenizer-training prep): whitespace "
    "tokens lowercased, frequency-counted, min-count filtered, and "
    "assigned contiguous ids by (freq desc, token asc) — fully "
    "deterministic, so shards built against the vocab agree across "
    "runs. One explode + one grouped count (map-side combining) + one "
    "rank over the SURVIVING vocab (tiny after min-count), planned as "
    "TakeOrdered for the id assignment at bounded size.",
)
def corpus_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .filter(F.col("freq") >= _VOCAB_MIN_COUNT)
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("w").asc())
    return (
        counts.withColumn("token_id", F.row_number().over(w).cast("long"))
        .filter(F.col("token_id") <= _VOCAB_SIZE)
        .select("token_id", F.col("w").alias("token"), "freq")
    )


_BPE_MERGES = 30


@register(
    "bpe_corpus_stats",
    sql=None,  # greedy BPE fit is iterative (driver argmax per merge) — not SQL-expressible
    doc="Distributed BPE tokenizer fit + corpus encode "
    "(operators/bpe.py): one full-corpus word count, 30 greedy merge "
    "rounds on the vocabulary-bounded distinct-word table, then the "
    "corpus re-encoded through the broadcast word->subwords "
    "dictionary; per-source subword/word totals and compression. "
    "Deterministic (lexicographic merge tie-break); golden merges and "
    "encoder equivalence pinned in tests/test_bpe.py.",
)
def bpe_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_encode_with_vocab, bpe_train
    from ..operators.cache import track_cache

    d = load_table(spark, sf_dir, "documents")
    _, vocab = bpe_train(d, "text", num_merges=_BPE_MERGES, min_freq=2)
    encoded = bpe_encode_with_vocab(d, "text", "doc_id", vocab)
    joined = d.select("doc_id", "source").join(encoded, "doc_id")
    out = (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("bpe_tokens")).alias("total_bpe_tokens"),
        )
        .orderBy("source")
    )
    # the tag on `encoded` (the persisted vocab) does not survive the
    # join/groupBy wrappers — re-tag the query's return frame so the
    # caller's release_caches frees the vocab
    return track_cache(out, encoded)


_ZIPF_TOP = 500  # head ranks used for the log-log fit


def _ols_micro(pts: DataFrame, slope_name: str, intercept_name: str) -> DataFrame:
    """Exact-integer OLS over (x, y) BIGINT points, emitted in micro
    units (r9 float policy — kills the -0.0 terminal-round hash class
    that failed `corpus_heaps_beta` in the r8 driver run).

    Inputs are 1e-4-quantized portable-ln values; every sum, numerator
    and denominator is exact DECIMAL(38,0) arithmetic and the three
    outputs are BIGINTs produced by the truncating-division idiom
    ``(a - a % b) / b`` (dividend-sign ``%`` in both Spark and DuckDB,
    verified; same idiom as doc_quality_rules_kappa). Cauchy-Schwarz
    bounds ``ns² <= ds·dy`` so ``1e6·ns²`` stays inside DECIMAL(38,0)
    for any ln-domain input (see corpus_zipf_fit doc).
    """
    dec = "decimal(38,0)"
    s = pts.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast(dec).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    d = s.select(
        "n",
        "sx",
        "sy",
        (n * F.col("sxy") - sx * sy).alias("ns"),
        (n * F.col("sxx") - sx * sx).alias("ds"),
        (n * F.col("syy") - sy * sy).alias("dy"),
    )
    ns, ds, dy = F.col("ns"), F.col("ds"), F.col("dy")
    zero = F.lit(0).cast(dec)

    def tdiv(num, den):  # trunc(num/den), exact; caller guards den != 0
        return ((num - num % den) / den).cast("long")

    mega = F.lit(1_000_000).cast(dec)
    return d.select(
        F.col("n").cast("long").alias("n_points"),
        F.when(ds == zero, F.lit(0).cast("long"))
        .otherwise(tdiv(mega * ns, ds))
        .alias(slope_name),
        F.when(ds == zero, F.lit(0).cast("long"))
        .otherwise(
            tdiv(F.lit(100).cast(dec) * (F.col("sy") * ds - ns * F.col("sx")), F.col("n") * ds)
        )
        .alias(intercept_name),
        F.when((ds == zero) | (dy == zero), F.lit(0).cast("long"))
        .otherwise(tdiv(mega * ns * ns, ds * dy))
        .alias("r2_micro"),
    )


@register(
    "corpus_zipf_fit",
    sql=f"""
    WITH words AS (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ), counts AS (
        SELECT w, CAST(count(*) AS BIGINT) AS freq
        FROM words WHERE w <> '' GROUP BY w
    ), head AS (
        SELECT freq, row_number() OVER (ORDER BY freq DESC, w ASC) AS rnk
        FROM counts ORDER BY freq DESC, w ASC LIMIT {_ZIPF_TOP}
    ), pts AS (
        SELECT CAST(round({pln_sql("rnk")} * 10000.0, 0) AS BIGINT) AS x,
               CAST(round({pln_sql("freq")} * 10000.0, 0) AS BIGINT) AS y
        FROM head
    ), s AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(x * y) AS HUGEINT) AS sxy,
               CAST(sum(x * x) AS HUGEINT) AS sxx,
               CAST(sum(y * y) AS HUGEINT) AS syy
        FROM pts
    ), d AS (
        SELECT n, sx, sy,
               n * sxy - sx * sy AS ns,
               n * sxx - sx * sx AS ds,
               n * syy - sy * sy AS dy
        FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           CAST(CASE WHEN ds = 0 THEN 0 ELSE
                (1000000 * ns - (1000000 * ns) % ds) // ds END AS BIGINT)
               AS zipf_slope_micro,
           CAST(CASE WHEN ds = 0 THEN 0 ELSE
                (100 * (sy * ds - ns * sx)
                 - (100 * (sy * ds - ns * sx)) % (n * ds)) // (n * ds)
                END AS BIGINT) AS zipf_intercept_micro,
           CAST(CASE WHEN ds = 0 OR dy = 0 THEN 0 ELSE
                (1000000 * ns * ns - (1000000 * ns * ns) % (ds * dy))
                // (ds * dy) END AS BIGINT) AS r2_micro
    FROM d
    """,
    doc="Zipf's-law fit over the corpus vocabulary: OLS of ln(freq) "
    "on ln(rank) for the top-500 ranks — slope near -1 is the "
    "natural-language signature (Zipf 1949; Piantadosi 2014 review), "
    "and deviation flags synthetic/templated/boilerplate corpora, "
    "making this a one-row corpus-health check next to "
    "doc_quality_by_source. Scale shape: one token explode + grouped "
    "count (map-side combine) reduce the corpus to vocab grain; the "
    "head selection is a bounded TakeOrdered (freq desc, token asc "
    "total order, engine-identical at the cut). r9 float policy: the "
    "OLS is EXACT INTEGER end-to-end — portable-ln points quantized "
    "to 1e-4 BIGINT units (one IEEE multiply of a bit-identical pln "
    "double, then round-half-away — identical in both engines — and "
    "the BIGINT cast erases any zero sign), exact integer sums, "
    "slope/intercept/r2 emitted as micro-unit BIGINTs via the "
    "truncating-division idiom ((a - a %% b)/b, dividend-sign "
    "remainder in both engines; doc_quality_rules_kappa precedent). "
    "No double ever reaches the output row, so the r8 "
    "corpus_heaps_beta -0.0 hash class is impossible by type. "
    "Overflow-safe at any corpus size: Cauchy-Schwarz gives "
    "ns^2 <= ds*dy, so 1e6*ns^2 <= 1e6*(n*sxx)*(n*syy) < 1e38 for "
    "ln-domain inputs (x <= ln(500)*1e4, y <= ln(1e13)*1e4 even at "
    "100 TB token counts) within DECIMAL(38,0)/HUGEINT.",
)
def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    head = counts.orderBy(F.desc("freq"), F.asc("w")).limit(_ZIPF_TOP)
    w = Window.orderBy(F.desc("freq"), F.asc("w"))
    pts = head.select(
        F.row_number().over(w).alias("rnk"), "freq"
    ).select(
        F.round(F.expr(pln_sql("rnk")) * F.lit(10000.0), 0)
        .cast("long")
        .alias("x"),
        F.round(F.expr(pln_sql("freq")) * F.lit(10000.0), 0)
        .cast("long")
        .alias("y"),
    )
    return _ols_micro(
        pts, "zipf_slope_micro", "zipf_intercept_micro"
    )


_HEAPS_POINTS = 10  # doc_id-fraction checkpoints for the growth curve

# Shared CTE prefix: the integer vocabulary-growth curve. Everything in
# it is BIGINT arithmetic — bit-exact in any engine by construction.
_HEAPS_CURVE_CTES = f"""
    WITH mx AS (
        SELECT max(doc_id) AS m FROM documents
    ), cp AS (
        SELECT DISTINCT CAST(floor(i * (SELECT m FROM mx) / {_HEAPS_POINTS}.0)
                    AS BIGINT) AS c
        FROM (SELECT unnest(range(1, {_HEAPS_POINTS} + 1)) AS i)
    ), dtok AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
            FROM documents
        ) WHERE w <> '' GROUP BY doc_id
    ), firstocc AS (
        SELECT w, min(doc_id) AS first_doc FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
            FROM documents
        ) WHERE w <> '' GROUP BY w
    ), curve AS (
        SELECT cp.c,
               (SELECT CAST(sum(n_tok) AS BIGINT) FROM dtok
                WHERE doc_id <= cp.c) AS n_tokens,
               (SELECT CAST(count(*) AS BIGINT) FROM firstocc
                WHERE first_doc <= cp.c) AS vocab
        FROM cp
    )"""


@register(
    "corpus_heaps_fit",
    sql=_HEAPS_CURVE_CTES
    + """
    SELECT c AS checkpoint, n_tokens, vocab
    FROM curve WHERE n_tokens > 0 AND vocab > 0
    """,
    doc="Heaps'-law vocabulary-growth CURVE: V(N) sampled at 10 "
    "doc_id-fraction checkpoints — the number that answers 'how big "
    "will the vocab/tokenizer table get at 100 TB'. r7 redesign after "
    "the r6 driver hash FAIL: the twinned surface is now the raw "
    "INTEGER curve (checkpoint, n_tokens, vocab) — bit-exact in any "
    "engine by construction — because the old round(ln(x),6) inputs "
    "were libm-dependent (1-ulp ln differences flipped the 6dp "
    "rounding between engine builds; it passed locally by boundary "
    "luck). The ln-OLS fit lives in corpus_heaps_beta via the "
    "portable no-libm ln (operators/portablemath.py) and is pinned at "
    "two partition counts in tests/test_round7_fixes.py. Scale shape "
    "unchanged: N(c) aggregates per-doc token counts with doc_id <= "
    "c, V(c) counts words whose first-occurrence doc (a plain min per "
    "word) is <= c — two grouped aggregates plus a broadcast range "
    "join against the 10-row checkpoint frame, shuffle-light at any "
    "scale.",
)
def corpus_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    curve = _heaps_curve(spark, sf_dir)
    return curve.filter(
        (F.col("n_tokens") > 0) & (F.col("vocab") > 0)
    ).select(F.col("c").alias("checkpoint"), "n_tokens", "vocab")


def _heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c, n_tokens, vocab) integer growth curve shared by
    corpus_heaps_fit (twin = the curve itself) and corpus_heaps_beta
    (portable-ln OLS on top)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    dtok = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    firstocc = toks.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    mx = d.agg(F.max("doc_id").alias("m"))
    cp = (
        spark.range(1, _HEAPS_POINTS + 1)
        .crossJoin(F.broadcast(mx))
        .select(
            F.floor(F.col("id") * F.col("m") / F.lit(float(_HEAPS_POINTS)))
            .cast("long")
            .alias("c")
        )
        .distinct()
    )
    n_curve = (
        dtok.crossJoin(F.broadcast(cp))
        .filter(F.col("doc_id") <= F.col("c"))
        .groupBy("c")
        .agg(F.sum("n_tok").alias("n_tokens"))
    )
    v_curve = (
        firstocc.crossJoin(F.broadcast(cp))
        .filter(F.col("first_doc") <= F.col("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    return n_curve.join(v_curve, "c")


@register(
    "corpus_heaps_beta",
    sql=_HEAPS_CURVE_CTES
    + f"""
    , pts AS (
        SELECT CAST(round({pln_sql("n_tokens")} * 10000.0, 0) AS BIGINT) AS x,
               CAST(round({pln_sql("vocab")} * 10000.0, 0) AS BIGINT) AS y
        FROM curve WHERE n_tokens > 0 AND vocab > 0
    ), s AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(x * y) AS HUGEINT) AS sxy,
               CAST(sum(x * x) AS HUGEINT) AS sxx,
               CAST(sum(y * y) AS HUGEINT) AS syy
        FROM pts
    ), d AS (
        SELECT n, sx, sy,
               n * sxy - sx * sy AS ns,
               n * sxx - sx * sx AS ds,
               n * syy - sy * sy AS dy
        FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           CAST(CASE WHEN ds = 0 THEN 0 ELSE
                (1000000 * ns - (1000000 * ns) % ds) // ds END AS BIGINT)
               AS heaps_beta_micro,
           CAST(CASE WHEN ds = 0 THEN 0 ELSE
                (100 * (sy * ds - ns * sx)
                 - (100 * (sy * ds - ns * sx)) % (n * ds)) // (n * ds)
                END AS BIGINT) AS heaps_lnk_micro,
           CAST(CASE WHEN ds = 0 OR dy = 0 THEN 0 ELSE
                (1000000 * ns * ns - (1000000 * ns * ns) % (ds * dy))
                // (ds * dy) END AS BIGINT) AS r2_micro
    FROM d
    """,
    doc="Heaps'-law OLS fit V(N) ~ K*N^beta (beta in [0.4, 0.6] for "
    "natural language, Heaps 1978) over the corpus_heaps_fit integer "
    "curve, emitted in micro units (heaps_beta_micro = 1e6*beta). "
    "r9 redesign after the r8 driver hash FAIL: the old terminal "
    "round(double, 6) emitted +0.0 in Spark (BigDecimal HALF_UP "
    "drops a zero's sign) but -0.0 in DuckDB on the saturated-vocab "
    "corpus whose OLS slope is a tiny negative — the driver hash "
    "distinguishes them. Now the fit is EXACT INTEGER end-to-end "
    "(_ols_micro): portable-ln points quantized to 1e-4 BIGINT "
    "units, exact DECIMAL(38,0)/HUGEINT sums and cross-products, "
    "truncating-division micro outputs — no double reaches the "
    "output row, so the class is impossible by type. A saturated "
    "vocabulary (y constant) gives ns = 0 exactly -> beta_micro = 0, "
    "and dy = 0 -> r2_micro = 0 via the guard, no 0/0.",
)
def corpus_heaps_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    curve = _heaps_curve(spark, sf_dir)
    pts = curve.filter(
        (F.col("n_tokens") > 0) & (F.col("vocab") > 0)
    ).select(
        F.round(F.expr(pln_sql("n_tokens")) * F.lit(10000.0), 0)
        .cast("long")
        .alias("x"),
        F.round(F.expr(pln_sql("vocab")) * F.lit(10000.0), 0)
        .cast("long")
        .alias("y"),
    )
    return _ols_micro(pts, "heaps_beta_micro", "heaps_lnk_micro")


@register(
    "shard_packing_efficiency",
    sql="""
    WITH toks AS (
        SELECT doc_id, doc_id % 8 AS bucket,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
        FROM documents
    ), packed AS (
        SELECT doc_id, bucket, n_tok,
               CAST(floor((sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n_tok) / 2000.0)
                    AS BIGINT) AS shard
        FROM toks
    ), shards AS (
        SELECT bucket, shard, CAST(sum(n_tok) AS BIGINT) AS tokens,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM packed GROUP BY 1, 2
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_shards,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(tokens) AS BIGINT) AS tokens_total,
           CAST(sum(greatest(2000 - tokens, 0)) AS BIGINT) AS padding_waste,
           round(sum(tokens) * 1.0
                 / (count(*) * 2000 + sum(greatest(tokens - 2000, 0))), 6) + 0.0
               AS fill_frac,
           CAST(sum(CASE WHEN tokens > 2000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_overflow_shards
    FROM shards GROUP BY bucket
    """,
    doc="Packing-efficiency report over the token_shard_packing "
    "layout — the number a training pipeline actually pays for: "
    "every shard pads to the 2000-token budget at batch time, so "
    "padding_waste is compute burned on pad tokens and fill_frac is "
    "the useful fraction of the padded token stream (overflow "
    "shards — a doc longer than the budget lands alone and exceeds "
    "it — extend the denominator instead of counting as negative "
    "waste). The greedy first-fit running-sum packer typically "
    "fills 85-95%; sequence-length-aware batching earns its keep "
    "exactly when this report says fill is low. Same plan shape as "
    "the manifest (bucketed running-sum window, no global sort) "
    "plus one shard-grain rollup. Companion of token_shard_packing "
    "(the WHERE) and source_mixture_ess (the at-what-cost).",
)
def shard_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_token_shards

    d = load_table(spark, sf_dir, "documents")
    packed = pack_token_shards(d, "text", "doc_id", budget=2000, n_buckets=8)
    shards = packed.groupBy("bucket", "shard").agg(
        F.sum("n_tok").cast("bigint").alias("tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    budget = F.lit(2000)
    return shards.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("tokens").cast("bigint").alias("tokens_total"),
        F.sum(F.greatest(budget - F.col("tokens"), F.lit(0)))
        .cast("bigint")
        .alias("padding_waste"),
        F.round(
            F.sum("tokens")
            * 1.0
            / (
                F.count(F.lit(1)) * budget
                + F.sum(F.greatest(F.col("tokens") - budget, F.lit(0)))
            ),
            6,
        ).alias("fill_frac"),
        F.sum(F.when(F.col("tokens") > budget, 1).otherwise(0))
        .cast("bigint")
        .alias("n_overflow_shards"),
    )


@register(
    "doc_token_length_histogram",
    sql="""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(lower(text), ' '),
                                    x -> x <> '')) AS BIGINT) AS n_tok
        FROM documents
    ), bucketed AS (
        -- power-of-2 bucket floor via bit length: pure integer, no
        -- log2() (r7 float policy); n_tok = 0 gets bucket 0
        SELECT CASE WHEN n_tok <= 0 THEN 0
                    ELSE CAST(2 ** (length(bin(n_tok)) - 1) AS BIGINT)
               END AS bucket_floor,
               n_tok
        FROM toks
    ), tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS all_tokens FROM bucketed)
    SELECT bucket_floor,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tokens,
           CAST(min(n_tok) AS BIGINT) AS min_tokens,
           CAST(max(n_tok) AS BIGINT) AS max_tokens,
           round(CAST(sum(n_tok) AS DOUBLE) / t.all_tokens, 6)
               AS token_share
    FROM bucketed CROSS JOIN tot t
    GROUP BY bucket_floor, t.all_tokens
    """,
    doc="Sequence-length histogram in power-of-2 buckets — the "
    "distribution a packing/sharding planner needs before choosing a "
    "context length (token_shard_packing's padding waste and "
    "shard_packing_efficiency's fill fraction are both functions of "
    "THIS shape; long-tail mass above the context length = truncation "
    "loss, mass far below = padding loss). Float policy: bucket = "
    "2^floor(log2 n) computed from the integer BIT LENGTH (the same "
    "no-libm construction as operators/portablemath), counts and "
    "token sums all BIGINT; only the display share divides. Scale "
    "shape: one narrow projection + one map-side-combining aggregate "
    "to <= 64 bucket rows; the total rides a broadcast 1-row frame.",
)
def doc_token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(tokens(F.col("text")), lambda x: x != "")).cast(
        "bigint"
    )
    toks = d.select(n_tok.alias("n_tok"))
    bucket = F.when(F.col("n_tok") <= 0, F.lit(0)).otherwise(
        F.expr("shiftleft(CAST(1 AS BIGINT), length(bin(n_tok)) - 1)")
    )
    bucketed = toks.select(bucket.cast("bigint").alias("bucket_floor"), "n_tok")
    tot = bucketed.agg(F.sum("n_tok").cast("bigint").alias("all_tokens"))
    return (
        bucketed.crossJoin(F.broadcast(tot))
        .groupBy("bucket_floor", "all_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("tokens"),
            F.min("n_tok").alias("min_tokens"),
            F.max("n_tok").alias("max_tokens"),
        )
        .select(
            "bucket_floor",
            "n_docs",
            "tokens",
            "min_tokens",
            "max_tokens",
            F.round(
                F.col("tokens").cast("double") / F.col("all_tokens"), 6
            ).alias("token_share"),
        )
    )


_COV_CHECKPOINTS = (1000, 2000, 4000, 8000, 16000)
_COV_SQL = ", ".join(str(v) for v in _COV_CHECKPOINTS)


@register(
    "vocab_coverage_curve",
    sql=f"""
    WITH words AS (
        SELECT unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ), counts AS (
        SELECT w, CAST(count(*) AS BIGINT) AS freq
        FROM words WHERE w <> '' GROUP BY w
    ), ranked AS (
        SELECT freq,
               CAST(row_number() OVER (ORDER BY freq DESC, w ASC)
                    AS BIGINT) AS rank
        FROM counts
    ), tot AS (
        SELECT CAST(sum(freq) AS BIGINT) AS total_tokens,
               CAST(count(*) AS BIGINT) AS n_types
        FROM counts
    ), cp AS (
        SELECT CAST(unnest([{_COV_SQL}]) AS BIGINT) AS vocab_size
    )
    SELECT cp.vocab_size,
           CAST(sum(CASE WHEN r.rank <= cp.vocab_size
                         THEN r.freq ELSE 0 END) AS BIGINT)
               AS covered_tokens,
           t.total_tokens,
           t.n_types,
           round(sum(CASE WHEN r.rank <= cp.vocab_size
                          THEN r.freq ELSE 0 END) * 1.0
                 / t.total_tokens, 6) AS coverage
    FROM cp CROSS JOIN ranked r CROSS JOIN tot t
    GROUP BY cp.vocab_size, t.total_tokens, t.n_types
    """,
    doc="Token-coverage-vs-vocabulary-size curve: the fraction of "
    "all corpus tokens covered by the top-V most frequent types, at "
    "V in {1k, 2k, 4k, 8k, 16k} — the tokenizer-design read that "
    "sits between corpus_vocabulary (the vocab itself), "
    "corpus_zipf_fit (the law governing this curve's shape), and "
    "vocab_oov_rate (one fixed V's miss rate). Where the curve "
    "plateaus tells you when growing the vocab stops buying "
    "compression (Zipf: coverage gains fall off as 1/V^(alpha-1)). "
    "Counts and cumulative masses are exact BIGINTs; ranking ties "
    "break lexically so the top-V set is engine-identical; coverage "
    "is a final division of identical integers. Scale shape: one "
    "corpus explode + grouped count (map-side combined); the rank "
    "window and the 5-checkpoint rollup run on the TYPE table "
    "(vocabulary-bounded, Heaps-sublinear), never the token stream.",
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens as _tokens

    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    counts = (
        d.select(F.explode(_tokens(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .persist()
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("w").asc())
    ranked = counts.select(
        "freq", F.row_number().over(w).cast("bigint").alias("rank")
    )
    tot = counts.agg(
        F.sum("freq").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    cp = spark.createDataFrame(
        [(int(v),) for v in _COV_CHECKPOINTS], "vocab_size bigint"
    )
    covered = F.sum(
        F.when(F.col("rank") <= F.col("vocab_size"), F.col("freq")).otherwise(
            F.lit(0)
        )
    ).cast("bigint")
    out = (
        F.broadcast(cp)
        .crossJoin(ranked)
        .crossJoin(F.broadcast(tot))
        .groupBy("vocab_size", "total_tokens", "n_types")
        .agg(
            covered.alias("covered_tokens"),
        )
        .select(
            "vocab_size",
            "covered_tokens",
            "total_tokens",
            "n_types",
            F.round(
                F.col("covered_tokens") * F.lit(1.0) / F.col("total_tokens"), 6
            ).alias("coverage"),
        )
    )
    from ..operators.cache import track_cache

    return track_cache(out, counts)


_LN2_LIT = 0.6931471805599453  # shared literal — one constant, both engines


@register(
    "corpus_ngram_entropy",
    sql=f"""
    WITH fdocs AS (
        SELECT list_filter(string_split(lower(text), ' '), x -> x <> '')
                   AS fl
        FROM documents
    ), toks AS (
        SELECT unnest(fl) AS w FROM fdocs
    ), uni AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY w
    ), un AS (
        -- one pass: totals AND the entropy fold together.
        -- sum c*ln(N/c) = N*ln N - sum c*ln c, so the per-type term
        -- needs only its OWN count (integer-argument portable ln,
        -- 6dp quantization, exact decimal sum) — no second scan of
        -- the count table against the totals row (r9: the r8 bench
        -- regression was exactly that re-scan, 13 exchanges).
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS v,
               CAST(sum(CAST(round(c * ({pln_sql("c")}), 6)
                    AS DECIMAL(28,8))) AS DOUBLE) AS sc
        FROM uni
    ), uh AS (
        SELECT n, v,
               round(n * ({pln_sql("n")}) - sc, 4) + 0.0 AS s
        FROM un
    ), bg AS (
        SELECT unnest(fl[1:len(fl) - 1]) AS w1,
               unnest(fl[2:len(fl)]) AS w2
        FROM fdocs
    ), bi AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
        FROM bg GROUP BY w1, w2
    ), bn AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS v,
               CAST(sum(CAST(round(c * ({pln_sql("c")}), 6)
                    AS DECIMAL(28,8))) AS DOUBLE) AS sc
        FROM bi
    ), bh AS (
        SELECT n, v,
               round(n * ({pln_sql("n")}) - sc, 4) + 0.0 AS s
        FROM bn
    )
    SELECT uh.n AS n_tokens, uh.v AS n_types,
           bh.n AS n_bigrams, bh.v AS n_bigram_types,
           round(uh.s / uh.n / {_LN2_LIT!r}, 6) AS unigram_bits,
           round(bh.s / bh.n / {_LN2_LIT!r}, 6) AS bigram_bits,
           round(bh.s / bh.n / {_LN2_LIT!r}
                 - uh.s / uh.n / {_LN2_LIT!r}, 6) + 0.0 AS conditional_bits
    FROM uh CROSS JOIN bh
    """,
    doc="Corpus n-gram entropy in bits/token (Shannon 1951's "
    "printed-English estimate, the compressibility read): unigram "
    "entropy, bigram entropy, and their difference H(w2|w1) — the "
    "single number separating natural text (conditional entropy "
    "well below unigram: context predicts) from shuffled/templated "
    "synthetic corpora (near-equal: context tells nothing). Sits "
    "beside corpus_zipf_fit (rank law) and event_entropy_rate (the "
    "event-chain member) with the same per-term quantization "
    "policy: sum c*ln(N/c) computed as N*lnN - sum(c*ln c) so each "
    "per-type term needs only its OWN count — integer-argument "
    "PORTABLE ln, rounded per type, decimal-summed exactly, the "
    "N*lnN correction applied once on the one-row totals. Scale "
    "shape (r9 rework of the r8 bench regression): one corpus scan, "
    "bigrams by in-row array slicing (no self-join), ONE aggregation "
    "pass per gram level carrying totals and entropy fold together — "
    "the old shape re-scanned each vocab-bounded count table against "
    "the totals row (13 exchanges -> 6).",
)
def corpus_ngram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    fl = F.filter(tokens(F.col("text")), lambda x: x != "")
    fdocs = d.select(fl.alias("fl")).persist()
    toks = fdocs.select(F.explode("fl").alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    bg = fdocs.select(
        F.explode(
            F.arrays_zip(
                F.slice(
                    F.col("fl"), 1, F.greatest(F.size("fl") - 1, F.lit(0))
                ).alias("w1"),
                F.slice(
                    F.col("fl"), 2, F.greatest(F.size("fl") - 1, F.lit(0))
                ).alias("w2"),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bi = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )

    def _totals_and_entropy(counts: DataFrame) -> DataFrame:
        """One pass: (n, v, s) where s = round(n*lnN - sum c*ln c, 4)
        — the Shannon fold needs only per-type counts, so totals and
        entropy share a single aggregation (no re-scan of the count
        table against the totals row)."""
        tot = counts.agg(
            F.sum("c").cast("bigint").alias("n"),
            F.count(F.lit(1)).cast("bigint").alias("v"),
            F.sum(
                F.round(F.col("c") * F.expr(pln_sql("c")), 6).cast(
                    "decimal(28,8)"
                )
            )
            .cast("double")
            .alias("sc"),
        )
        return tot.select(
            "n",
            "v",
            (
                F.round(
                    F.col("n") * F.expr(pln_sql("n")) - F.col("sc"), 4
                )
                + F.lit(0.0)
            ).alias("s"),
        )

    uh = _totals_and_entropy(uni).select(
        F.col("n").alias("n_tokens"),
        F.col("v").alias("n_types"),
        F.col("s").alias("us"),
    )
    bh = _totals_and_entropy(bi).select(
        F.col("n").alias("n_bigrams"),
        F.col("v").alias("n_bigram_types"),
        F.col("s").alias("bs"),
    )
    ubits = F.col("us") / F.col("n_tokens") / F.lit(_LN2_LIT)
    bbits = F.col("bs") / F.col("n_bigrams") / F.lit(_LN2_LIT)
    out = uh.crossJoin(F.broadcast(bh)).select(
        "n_tokens",
        "n_types",
        "n_bigrams",
        "n_bigram_types",
        F.round(ubits, 6).alias("unigram_bits"),
        F.round(bbits, 6).alias("bigram_bits"),
        (F.round(bbits - ubits, 6) + F.lit(0.0)).alias("conditional_bits"),
    )
    from ..operators.cache import track_cache

    return track_cache(out, fdocs)


_DRIFT_SALT = "tdrift0"


def _token_drift_sql() -> str:
    from ..operators.portablemath import LN2_LITERAL, pln_ratio_sql
    from ..operators.sampling import sql_md5_uniform

    u = sql_md5_uniform("CAST(doc_id AS VARCHAR)", _DRIFT_SALT)
    term_a = (
        f"(CASE WHEN a > 0 THEN (CAST(a AS DOUBLE) / ta) * "
        f"{pln_ratio_sql('2 * a * tb', 'a * tb + b * ta')} ELSE 0.0 END)"
    )
    term_b = (
        f"(CASE WHEN b > 0 THEN (CAST(b AS DOUBLE) / tb) * "
        f"{pln_ratio_sql('2 * b * ta', 'a * tb + b * ta')} ELSE 0.0 END)"
    )
    return f"""
    WITH halves AS (
        SELECT CASE WHEN {u} <= 0.5 THEN 'a' ELSE 'b' END AS half, text
        FROM documents
    ), nd AS (
        SELECT CAST(count(CASE WHEN half = 'a' THEN 1 END) AS BIGINT)
                   AS n_docs_a,
               CAST(count(CASE WHEN half = 'b' THEN 1 END) AS BIGINT)
                   AS n_docs_b
        FROM halves
    ), toks AS (
        SELECT half, unnest(string_split(lower(text), ' ')) AS w
        FROM halves
    ), counts AS (
        SELECT w,
               CAST(count(CASE WHEN half = 'a' THEN 1 END) AS BIGINT) AS a,
               CAST(count(CASE WHEN half = 'b' THEN 1 END) AS BIGINT) AS b
        FROM toks WHERE w <> '' GROUP BY w
    ), tot AS (
        SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb,
               CAST(count(*) AS BIGINT) AS vocab
        FROM counts
    ), terms AS (
        SELECT CAST(round({term_a}, 12) AS DECIMAL(28,14))
                   + CAST(round({term_b}, 12) AS DECIMAL(28,14)) AS contrib
        FROM counts CROSS JOIN tot
    )
    SELECT nd.n_docs_a, nd.n_docs_b, t.ta AS tokens_a, t.tb AS tokens_b,
           t.vocab,
           CASE WHEN t.ta = 0 OR t.tb = 0 THEN NULL
                ELSE round((0.5 * CAST((SELECT sum(contrib) FROM terms)
                                       AS DOUBLE)) / {LN2_LITERAL}, 8) + 0.0
           END AS jsd_bits
    FROM tot t CROSS JOIN nd
    """


@register(
    "corpus_token_drift",
    sql=_token_drift_sql(),
    doc="Jensen-Shannon divergence between the TOKEN distributions of "
    "two deterministic md5 halves of the corpus — the text-side "
    "member of the drift family (orders_price_jsd watches a scalar, "
    "embedding_centroid_shift watches vectors; this watches the "
    "unigram LM itself, the signal that catches a crawl refresh "
    "shifting topic/boilerplate mix before perplexity does). JSD in "
    "bits via the symmetric KL identity: p_i/m_i = 2*a_i*B / (a_i*B + "
    "b_i*A) — an INTEGER ratio, so the PORTABLE pln (zero libm) sees "
    "engine-identical BIGINTs; each KL term is per-row IEEE on those, "
    "quantized to 12dp and decimal-summed (rule 1). Zero counts "
    "contribute exact 0; an empty half yields NULL in both engines. "
    "Scale shape: one explode + one grouped count at token grain "
    "(map-side combine, Heaps-bounded vocab), the 1-row totals "
    "broadcast back, one decimal sum. Bound: a_i*B fits BIGINT to "
    "~3e9 tokens/side at max-frequency 1 — quantize the corpus into "
    "per-shard drift reports past that, documented.",
)
def corpus_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import track_cache
    from ..operators.portablemath import LN2_LITERAL, pln_ratio_sql
    from ..operators.sampling import md5_uniform

    d = load_table(spark, sf_dir, "documents")
    halves = d.select(
        F.when(
            md5_uniform(F.col("doc_id").cast("string"), _DRIFT_SALT) <= 0.5,
            F.lit("a"),
        )
        .otherwise(F.lit("b"))
        .alias("half"),
        "text",
    )
    nd = halves.agg(
        F.count(F.when(F.col("half") == "a", 1)).cast("bigint").alias("n_docs_a"),
        F.count(F.when(F.col("half") == "b", 1)).cast("bigint").alias("n_docs_b"),
    )
    toks = halves.select("half", F.explode(tokens(F.col("text"))).alias("w"))
    counts = (
        toks.filter(F.col("w") != "")
        .groupBy("w")
        .agg(
            F.count(F.when(F.col("half") == "a", 1)).cast("bigint").alias("a"),
            F.count(F.when(F.col("half") == "b", 1)).cast("bigint").alias("b"),
        )
        .persist()
    )
    tot = counts.agg(
        F.sum("a").cast("bigint").alias("ta"),
        F.sum("b").cast("bigint").alias("tb"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
    )
    term_a = F.when(
        F.col("a") > 0,
        (F.col("a").cast("double") / F.col("ta"))
        * F.expr(pln_ratio_sql("2 * a * tb", "a * tb + b * ta")),
    ).otherwise(F.lit(0.0))
    term_b = F.when(
        F.col("b") > 0,
        (F.col("b").cast("double") / F.col("tb"))
        * F.expr(pln_ratio_sql("2 * b * ta", "a * tb + b * ta")),
    ).otherwise(F.lit(0.0))
    terms = counts.crossJoin(F.broadcast(tot)).select(
        (
            F.round(term_a, 12).cast("decimal(28,14)")
            + F.round(term_b, 12).cast("decimal(28,14)")
        ).alias("contrib")
    )
    ssum = terms.agg(F.sum("contrib").alias("s"))
    out = (
        tot.crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(ssum))
        .select(
            "n_docs_a",
            "n_docs_b",
            F.col("ta").alias("tokens_a"),
            F.col("tb").alias("tokens_b"),
            "vocab",
            F.when(
                (F.col("ta") == 0) | (F.col("tb") == 0),
                F.lit(None).cast("double"),
            )
            .otherwise(
                F.round(
                    (0.5 * F.col("s").cast("double"))
                    / F.expr(LN2_LITERAL),
                    8,
                )
            )
            .alias("jsd_bits"),
        )
    )
    return track_cache(out, counts)
