"""Markov removal-effect attribution (Anderl et al. 2016, "Mapping
the customer journey") — the data-driven attribution model: build the
first-order Markov chain over user journeys truncated at first
conversion, compute the absorbing-chain conversion probability by a
fixed-k quantized power iteration, and credit each channel by its
REMOVAL EFFECT (how much conversion probability disappears when the
channel's inbound traffic is redirected to null).

Scale stance: journeys reduce to the |states|^2 transition grain in
one fact shuffle (the event_transition_matrix shape); the chain math
— base + one removal variant per channel — folds over the BOUNDED
edge array inside single rows (the Holt/Kaplan-Meier fold recipe),
with probability mass in integer micro-units so every product stays
an exact integer in a double and the DuckDB twin (iteration CTEs
unrolled per removal variant) is bit-identical with no terminal
rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io.sources import load_table
from .registry import register

_MK_ITERS = 16  # fixed power-iteration depth, shared with the oracle
_CONV = "purchase"  # the converting event type


def _markov_sql() -> str:
    """Unrolled-iteration DuckDB twin: mass table at (variant, state)
    grain per iteration, conversion mass accumulated separately.

    Each ``it{k}`` (``it0`` included) is read twice by level k+1 (by
    ``it{k+1}`` and ``cv{k+1}``); inlined, DuckDB re-expands the whole
    chain below every reference, so the work grows with each level.
    MATERIALIZED computes each level once."""
    its = []
    for k in range(1, _MK_ITERS + 1):
        prev = f"it{k - 1}"
        its.append(
            f"""it{k} AS MATERIALIZED (
        SELECT m.ch, e.dst AS state,
               CAST(sum(CAST(round(m.mass_u * e.p_u / 1000000.0) AS BIGINT))
                    AS BIGINT) AS mass_u
        FROM {prev} m
        JOIN edges e ON e.src = m.state AND e.src != m.ch AND e.dst != m.ch
        WHERE e.dst NOT IN ('(conv)', '(null)')
        GROUP BY 1, 2
    ), cv{k} AS (
        SELECT c.ch,
               c.conv_u + coalesce((
                   SELECT CAST(sum(CAST(round(m.mass_u * e.p_u / 1000000.0)
                                        AS BIGINT)) AS BIGINT)
                   FROM {prev} m
                   JOIN edges e ON e.src = m.state AND e.src != m.ch
                   WHERE e.dst = '(conv)' AND m.ch = c.ch
               ), 0) AS conv_u
        FROM cv{k - 1} c
    )"""
        )
    unrolled = ",\n    ".join(its)
    return f"""
    WITH seq AS (
        SELECT user_id,
               CASE WHEN event_type = '{_CONV}' THEN '(conv)'
                    ELSE event_type END AS state,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), marked AS (
        SELECT user_id, state, rn,
               min(CASE WHEN state = '(conv)' THEN rn END)
                   OVER (PARTITION BY user_id) AS conv_rn
        FROM seq
    ), cut AS (
        -- rn <= conv_rn keeps a PREFIX of the (ts, event_id) order, so
        -- the original rn stays contiguous; no re-numbering window.
        SELECT user_id, state, rn,
               count(*) OVER (PARTITION BY user_id) AS n_ev
        FROM marked WHERE conv_rn IS NULL OR rn <= conv_rn
    ), trans_raw AS (
        SELECT user_id,
               coalesce(lag(state) OVER (PARTITION BY user_id
                                         ORDER BY rn), '(start)') AS src,
               state AS dst
        FROM cut
        UNION ALL
        SELECT user_id, state AS src, '(null)' AS dst
        FROM cut WHERE rn = n_ev AND state != '(conv)'
    ), counts AS (
        SELECT src, dst, CAST(count(*) AS BIGINT) AS n
        FROM trans_raw GROUP BY src, dst
    ), edges AS MATERIALIZED (
        SELECT src, dst,
               CAST(round(n * 1000000.0
                          / sum(n) OVER (PARTITION BY src)) AS BIGINT) AS p_u
        FROM counts
    ), channels AS (
        -- row-order truncation means '(conv)' can never be a src, but
        -- exclude the absorbing states defensively so a regression
        -- could never seat them as mass-holding removal variants
        SELECT DISTINCT src AS ch FROM edges
        WHERE src NOT IN ('(start)', '(conv)', '(null)')
    ), variants AS (
        SELECT '(base)' AS ch UNION ALL SELECT ch FROM channels
    ), it0 AS MATERIALIZED (
        SELECT ch, '(start)' AS state, CAST(1000000 AS BIGINT) AS mass_u
        FROM variants
    ), cv0 AS (
        SELECT ch, CAST(0 AS BIGINT) AS conv_u FROM variants
    ),
    {unrolled},
    base AS (
        SELECT conv_u AS base_u FROM cv{_MK_ITERS} WHERE ch = '(base)'
    ), removed AS (
        SELECT ch AS channel, conv_u AS removed_u
        FROM cv{_MK_ITERS} WHERE ch != '(base)'
    ), re AS (
        SELECT channel, removed_u, base_u,
               greatest(base_u - removed_u, 0) AS re_u
        FROM removed, base
    )
    SELECT channel,
           base_u / 1000000.0 AS p_conv_base,
           removed_u / 1000000.0 AS p_conv_removed,
           re_u * 1.0 / base_u AS removal_effect,
           re_u * 1.0 / (SELECT sum(re_u) FROM re) AS attribution_share
    FROM re
    """


@register(
    "purchase_markov_attribution",
    sql=_markov_sql(),
    doc="Markov removal-effect attribution over user journeys: "
    "journeys truncate at first purchase (mapped to the absorbing "
    "(conv) state; journeys without one terminate in (null)); "
    "first-order transition probabilities quantize to integer "
    "micro-units; the absorbing-chain conversion probability comes "
    f"from a fixed {_MK_ITERS}-step power iteration (identical, "
    "quantized, in both engines — per-edge flows round to integer "
    "micro-units each step so products stay exact in doubles); each "
    "channel's credit is its removal effect (conversion probability "
    "lost when edges touching the channel are cut), normalized to "
    "attribution shares. Completes the attribution family next to "
    "last-click (purchase_last_click_asof) and time-decay "
    "(purchase_decay_attribution) with the standard data-driven "
    "model. Scale shape: one fact shuffle to the |states|^2 "
    "transition grain; base + per-channel variants fold over the "
    "bounded edge array inside one row each — chain math costs "
    "nothing beyond the bigram rollup at any scale.",
)
def purchase_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    state = F.when(F.col("event_type") == _CONV, "(conv)").otherwise(
        F.col("event_type")
    )
    # Truncate by ROW ORDER (rn <= rn of the first purchase under the
    # (ts, event_id) total order), not by ts <= conv_ts: a non-purchase
    # event TIED with the first purchase timestamp must not survive the
    # cut, or '(conv)' leaks into the transition srcs and holds mass.
    seq = events.select(
        "user_id",
        state.alias("state"),
        F.row_number().over(wo).alias("rn"),
    ).select(
        "user_id",
        "state",
        "rn",
        F.min(F.when(F.col("state") == "(conv)", F.col("rn")))
        .over(wu)
        .alias("conv_rn"),
    )
    won = Window.partitionBy("user_id").orderBy("rn")
    cut = seq.filter(
        F.col("conv_rn").isNull() | (F.col("rn") <= F.col("conv_rn"))
    ).select(
        "user_id",
        "state",
        "rn",
        F.count(F.lit(1)).over(wu).alias("n_ev"),
        F.lag("state").over(won).alias("prev"),
    )
    trans = cut.select(
        F.coalesce(F.col("prev"), F.lit("(start)")).alias("src"),
        F.col("state").alias("dst"),
    ).unionByName(
        cut.filter((F.col("rn") == F.col("n_ev")) & (F.col("state") != "(conv)"))
        .select(F.col("state").alias("src"), F.lit("(null)").alias("dst"))
    )
    counts = trans.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    edges = counts.select(
        "src",
        "dst",
        F.round(
            F.col("n") * F.lit(1_000_000.0)
            / F.sum("n").over(Window.partitionBy("src"))
        )
        .cast("bigint")
        .alias("p_u"),
    )
    # bounded: |states|^2 edges and |channels|+1 variants fold in rows
    packed = edges.agg(
        F.collect_list(F.struct("src", "dst", "p_u")).alias("edges"),
        F.array_sort(
            F.array_distinct(
                F.collect_list(
                    # mirror the SQL twin's defensive exclusion: the
                    # absorbing states must never hold mass in the fold
                    F.when(
                        ~F.col("src").isin("(start)", "(conv)", "(null)"),
                        F.col("src"),
                    )
                )
            )
        ).alias("channels"),
    )
    variants = packed.select(
        "edges",
        F.explode(
            F.concat(F.array(F.lit("(base)")), F.col("channels"))
        ).alias("ch"),
        F.col("channels"),
    )

    # states that can hold mass: (start) + channels
    states = F.concat(F.array(F.lit("(start)")), F.col("channels"))
    init = F.struct(
        F.transform(
            states,
            lambda s: F.struct(
                s.alias("state"),
                F.when(s == "(start)", F.lit(1_000_000).cast("long"))
                .otherwise(F.lit(0).cast("long"))
                .alias("mass_u"),
            ),
        ).alias("mass"),
        F.lit(0).cast("long").alias("conv_u"),
    )

    def _mass_of(acc, src):
        hit = F.filter(acc["mass"], lambda m: m["state"] == src)
        return F.coalesce(F.element_at(hit, 1)["mass_u"], F.lit(0).cast("long"))

    def _flow(acc, e):
        return F.round(_mass_of(acc, e["src"]) * e["p_u"] / F.lit(1_000_000.0)).cast(
            "long"
        )

    def _step(acc, _):
        ch = F.col("ch")
        live = F.filter(
            F.col("edges"), lambda e: (e["src"] != ch) & (e["dst"] != ch)
        )
        new_mass = F.transform(
            states,
            lambda s: F.struct(
                s.alias("state"),
                F.aggregate(
                    F.filter(live, lambda e: e["dst"] == s),
                    F.lit(0).cast("long"),
                    lambda a, e: a + _flow(acc, e),
                ).alias("mass_u"),
            ),
        )
        conv_gain = F.aggregate(
            F.filter(live, lambda e: e["dst"] == F.lit("(conv)")),
            F.lit(0).cast("long"),
            lambda a, e: a + _flow(acc, e),
        )
        return F.struct(
            new_mass.alias("mass"), (acc["conv_u"] + conv_gain).alias("conv_u")
        )

    folded = variants.select(
        "ch",
        F.aggregate(
            F.sequence(F.lit(1), F.lit(_MK_ITERS)), init, _step
        )["conv_u"].alias("conv_u"),
    )
    base = folded.filter(F.col("ch") == "(base)").select(
        F.col("conv_u").alias("base_u")
    )
    rem = folded.filter(F.col("ch") != "(base)").crossJoin(F.broadcast(base))
    re = rem.select(
        F.col("ch").alias("channel"),
        "base_u",
        F.col("conv_u").alias("removed_u"),
        F.greatest(F.col("base_u") - F.col("conv_u"), F.lit(0).cast("long")).alias(
            "re_u"
        ),
    )
    tot = F.sum("re_u").over(Window.partitionBy())
    return re.select(
        "channel",
        (F.col("base_u") / F.lit(1_000_000.0)).alias("p_conv_base"),
        (F.col("removed_u") / F.lit(1_000_000.0)).alias("p_conv_removed"),
        (F.col("re_u") / F.col("base_u")).alias("removal_effect"),
        (F.col("re_u") / tot).alias("attribution_share"),
    )


_SH_MAXCH = 12  # 2^n coalition enumeration guard


@register(
    "purchase_shapley_attribution",
    sql=f"""
    WITH RECURSIVE seq AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), marked AS (
        SELECT user_id, event_type, rn,
               min(CASE WHEN event_type = '{_CONV}' THEN rn END)
                   OVER (PARTITION BY user_id) AS conv_rn
        FROM seq
    ), cut AS (
        -- strictly BEFORE the first purchase row (rn < conv_rn): a
        -- non-purchase event tied on ts with the conversion does not
        -- count as touched-before-conversion unless it sorts earlier
        -- under the (ts, event_id) total order
        SELECT user_id, event_type,
               CASE WHEN conv_rn IS NOT NULL THEN 1 ELSE 0 END AS conv
        FROM marked
        WHERE event_type != '{_CONV}'
              AND (conv_rn IS NULL OR rn < conv_rn)
    ), chans AS (
        SELECT event_type AS ch,
               row_number() OVER (ORDER BY event_type) - 1 AS bit
        FROM (SELECT DISTINCT event_type FROM cut)
    ), nch AS (
        -- mirror the Spark-side 2^n enumeration guard: the oracle must
        -- refuse, not silently enumerate 2^n subsets
        SELECT CASE WHEN count(*) > {_SH_MAXCH}
                    THEN CAST(error('channel count exceeds the 2^n '
                                    'Shapley enumeration guard') AS INTEGER)
                    ELSE CAST(count(*) AS INTEGER) END AS n
        FROM chans
    ),
    journeys AS (
        SELECT c.user_id,
               CAST(sum(DISTINCT (1 << ch.bit)) AS BIGINT) AS mask,
               max(c.conv) AS conv
        FROM cut c JOIN chans ch ON c.event_type = ch.ch
        GROUP BY c.user_id
    ), mcounts AS (
        SELECT mask, CAST(sum(conv) AS BIGINT) AS n_conv
        FROM journeys GROUP BY mask
    ), subsets AS (
        SELECT CAST(unnest(range(1 << (SELECT n FROM nch))) AS BIGINT) AS s
    ), v AS (
        SELECT s.s,
               CAST(coalesce(sum(m.n_conv), 0) AS BIGINT) AS v_s
        FROM subsets s LEFT JOIN mcounts m ON (m.mask & s.s) = m.mask
        GROUP BY s.s
    ), fact(i, f) AS (
        SELECT 0, CAST(1 AS BIGINT)
        UNION ALL SELECT i + 1, f * (i + 1) FROM fact WHERE i < 20
    ), phi AS (
        SELECT ch.ch AS channel,
               CAST(sum(fs.f * fns.f * (va.v_s - vb.v_s)) AS BIGINT) AS phi_u
        FROM chans ch, nch
        JOIN v vb ON (vb.s & (1 << ch.bit)) = 0
        JOIN v va ON va.s = vb.s + (1 << ch.bit)
        JOIN fact fs ON fs.i = bit_count(vb.s)
        JOIN fact fns ON fns.i = nch.n - bit_count(vb.s) - 1
        GROUP BY ch.ch
    ), tot AS (SELECT sum(phi_u) AS t FROM phi),
    nfact AS (SELECT f FROM fact, nch WHERE i = nch.n)
    SELECT channel,
           phi_u * 1.0 / (SELECT f FROM nfact) AS shapley_conversions,
           phi_u * 1.0 / (SELECT t FROM tot) AS attribution_share
    FROM phi
    """,
    doc="Exact Shapley-value attribution over channel coalitions — the "
    "game-theoretic member of the attribution family (heuristic "
    "last-click / time-decay, probabilistic Markov removal-effect, "
    "and now Shapley 1953 as applied by Zhao et al. 2018): each "
    "journey reduces to the SET of channels touched before first "
    "conversion, the coalition value v(S) counts conversions whose "
    "channel set fits inside S, and each channel's credit is its "
    "exact Shapley value (factorial-weighted marginal contributions, "
    "all integer arithmetic scaled by n! until the terminal "
    "division). Sum of Shapley values = total attributable "
    "conversions (efficiency axiom — pinned in tests). Scale shape: "
    "one fact shuffle to user grain, one to the channel-set-mask "
    "grain; the 2^n coalition enumeration is bounded by the CHANNEL "
    "vocabulary (guarded at {_SH_MAXCH}), never by data volume.",
)
def purchase_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # strictly before the first purchase ROW under (ts, event_id) —
    # see the SQL twin's cut CTE for the tie semantics
    seq = events.select(
        "user_id",
        "event_type",
        F.row_number().over(wo).alias("rn"),
    ).select(
        "user_id",
        "event_type",
        "rn",
        F.min(F.when(F.col("event_type") == _CONV, F.col("rn")))
        .over(wu)
        .alias("conv_rn"),
    )
    cut = seq.filter(
        (F.col("event_type") != _CONV)
        & (F.col("conv_rn").isNull() | (F.col("rn") < F.col("conv_rn")))
    ).select(
        "user_id",
        "event_type",
        F.when(F.col("conv_rn").isNotNull(), 1).otherwise(0).alias("conv"),
    )
    chan_rows = [
        r["event_type"]
        for r in cut.select("event_type").distinct().orderBy("event_type").collect()
    ]  # bounded channel vocabulary (one small driver-side list, like
    # pivot value lists); guarded:
    if len(chan_rows) > _SH_MAXCH:
        raise ValueError(
            f"{len(chan_rows)} channels exceeds the 2^n enumeration guard "
            f"({_SH_MAXCH}); aggregate channels first"
        )
    n = len(chan_rows)
    bit = {c: i for i, c in enumerate(chan_rows)}
    bit_expr = F.create_map(
        *[x for c, i in bit.items() for x in (F.lit(c), F.lit(1 << i))]
    )
    journeys = (
        cut.select(
            "user_id",
            bit_expr[F.col("event_type")].alias("b"),
            "conv",
        )
        .groupBy("user_id")
        .agg(
            F.array_sort(F.collect_set("b")).alias("bits"),
            F.max("conv").alias("conv"),
        )
        .select(
            F.aggregate(
                "bits", F.lit(0).cast("long"), lambda a, x: a + x
            ).alias("mask"),
            "conv",
        )
    )
    mcounts = journeys.groupBy("mask").agg(
        F.sum("conv").cast("bigint").alias("n_conv")
    )
    subsets = spark.range(1 << n).select(F.col("id").cast("long").alias("s"))
    v = (
        subsets.join(
            mcounts, (F.col("mask").bitwiseAND(F.col("s")) == F.col("mask")), "left"
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).cast("bigint").alias("v_s"))
    )
    import math

    fact = {i: math.factorial(i) for i in range(n + 1)}
    fs = F.create_map(
        *[x for i, f in fact.items() for x in (F.lit(i), F.lit(f))]
    )
    va = v.select(F.col("s").alias("sa"), F.col("v_s").alias("v_a"))
    phi = None
    rows = []
    for c in chan_rows:
        cb = 1 << bit[c]
        pairs = (
            v.filter(F.col("s").bitwiseAND(F.lit(cb)) == 0)
            .join(va, F.col("sa") == F.col("s") + F.lit(cb))
            .select(
                F.lit(c).alias("channel"),
                (
                    fs[F.bit_count(F.col("s"))]
                    * fs[F.lit(n) - F.bit_count(F.col("s")) - 1]
                    * (F.col("v_a") - F.col("v_s"))
                ).alias("term"),
            )
        )
        rows.append(pairs)
    terms = rows[0]
    for r in rows[1:]:
        terms = terms.unionByName(r)
    phi = terms.groupBy("channel").agg(
        F.sum("term").cast("bigint").alias("phi_u")
    )
    tot = F.sum("phi_u").over(Window.partitionBy())
    return phi.select(
        "channel",
        (F.col("phi_u") / F.lit(float(fact[n]))).alias("shapley_conversions"),
        (F.col("phi_u") / tot).alias("attribution_share"),
    )
