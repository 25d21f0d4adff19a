#!/usr/bin/env python
"""Measure wall-clock scaling of representative queries across the
three driver scale factors (sf0.001 -> sf0.1 is a 100x data ratio).

A query whose time grows ~linearly (or sublinearly, for plans dominated
by fixed costs at small SF) across 100x is structurally sound for the
next 100x; superlinear growth flags a plan that would not survive.
Writes the table into SCALING.md between the BENCH-SCALING markers.

Run: python tools/bench_scaling.py   (alone: concurrent jobs skew the walls)
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_tools_spark.operators.cache import (  # noqa: E402
    release_all_caches,
    release_caches,
)
from big_data_tools_spark.queries import all_queries  # noqa: E402
from big_data_tools_spark.session import get_spark  # noqa: E402

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
QUERIES = [
    "order_rollup_flagship",
    "regional_revenue",
    "waiting_supplier_lines",
    "customer_scd2_merge",
    "events_hourly",
    "event_sessions",
    "dedup_exact_docs",
    "dedup_jaccard_pairs",
    "dedup_minhash_pairs",
    "tfidf_top_terms",
    "knn_lsh_ann",
    "benchmark_contamination",
    "bm25_topk_docs",
    "doc_perplexity_by_source",
    "yelp_basetable_mini",
    "dedup_segments_reassembled",
    "dsir_target_selection",
    "corpus_shuffle_shards",
    # round-3c additions: TPC-H fill representatives, RRF fusion, CDC,
    # span coverage, portable MinHash, skew diagnostics
    "narrow_discount_revenue",
    "nation_product_profit",
    "customer_order_count_distribution",
    "hybrid_rrf_topk",
    "user_current_state_cdc",
    "dedup_span_coverage",
    "dedup_minhash_portable",
    "orders_custkey_skew",
    # round-4 additions: iterative graph (PageRank), bounded wedge
    # join (triangles), fan-out rolling distinct, token-stream OOV,
    # zero-join skipgrams, state-merge rollup, index-join ingest dedup
    "part_copurchase_pagerank",
    "copurchase_triangles",
    "events_rolling_dau",
    "vocab_oov_rate",
    "token_skipgram_counts",
    "orders_incremental_rollup",
    "dedup_incremental_ingest",
    # round-9: containment (second posting-list consumer), the
    # per-candidate FD agg fan, and the k-group ANOVA rollup.
    # embedding_hubness_audit stays out like knn_cosine_brute: its
    # exact tier is the documented quadratic oracle (scale path =
    # candidate lists / query sampling), so its decade growth would
    # measure the deliberate brute force, not plan soundness.
    "dedup_containment_pairs",
    "orders_fd_violations",
    "events_value_anova",
]
MARK_A = "<!-- BENCH-SCALING:BEGIN -->"
MARK_B = "<!-- BENCH-SCALING:END -->"

# --with-sf1 mode (r4 VERDICT ask #7): one more decade for the
# heaviest bench tails. sf1 is generated locally by tools/gen_sf1.py
# (10x key-remapped replication of sf0.1 — see its docstring); the
# subset is the bench's heaviest queries plus the fan-out-sensitive
# rolling-DAU operator.
SF1_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "testdata_sf1")
SF1_SFS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1", SF1_DIR]
SF1_QUERIES = [
    "part_copurchase_communities",
    "part_copurchase_pagerank",
    "dedup_simhash_portable",
    "dedup_components",
    "dedup_minhash_portable",
    "dedup_semantic_groups",
    "dedup_minhash_pairs",
    "dedup_jaccard_pairs",
    "dedup_winnow_pairs",
    "dsir_target_selection",
    "benchmark_contamination",
    "events_rolling_dau",
    # round-6: the fourth iterative-graph shape (HITS: 4 shuffles +
    # 2 materialization barriers per iteration) and the centroid
    # broadcast + array-fold cosine scan
    "purchase_hits_scores",
    "embedding_outlier_audit",
    # round-7: the CMS sketch build (4x explode, bounded cell agg),
    # the bigram-grain entropy fold, the repeat-graph bridge census,
    # and the histogram quantile sketch with its value-grain exact
    # reference
    "events_cms_heavy_hitters",
    "corpus_ngram_entropy",
    "copurchase_local_bridges",
    "orders_price_quantile_sketch",
    # round-8: the token-grain drift JSD (widest new text plan), the
    # second two-level-prefix-sum consumer (rank-sum U), the KMV
    # set-algebra sketch triple, and the image-decode Arrow boundary
    "corpus_token_drift",
    "orders_mannwhitney",
    "events_kmv_setops",
    "multimodal_image_ahash_dedup",
    # round-9: the three linear-shape wave queries (hubness excluded —
    # deliberate quadratic oracle, see QUERIES note above)
    "dedup_containment_pairs",
    "orders_fd_violations",
    "events_value_anova",
    # round-10: the exact prefix-containment tier (saturated-corpus
    # counterpoint to SCALING.md's natural-corpus A/B) and the
    # IVF-routed hubness audit (the ANN tier that replaced the
    # deliberate-quadratic exact audit at scale)
    "dedup_containment_prefix",
    "embedding_hubness_audit_ann",
]
MARK_SF1_A = "<!-- BENCH-SCALING-SF1:BEGIN -->"
MARK_SF1_B = "<!-- BENCH-SCALING-SF1:END -->"


def timed(fn, spark, sf_dir: str) -> float:
    best = float("inf")
    for _ in range(3):  # 2 warm + best-of-3 timed region
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.count()
        release_caches(df)
        release_all_caches()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    spark = get_spark(app_name="bdt-scaling")
    registry = all_queries()
    rows = []
    for name in QUERIES:
        fn = registry[name].fn
        ts = [timed(fn, spark, sf) for sf in SFS]
        # growth across the 10x sf0.01->sf0.1 step, the cleanest signal
        # (sf0.001 is mostly fixed job-submission cost)
        growth = ts[2] / ts[1] if ts[1] > 0 else float("nan")
        rows.append((name, *ts, growth))
        print(f"# {name}: " + " ".join(f"{t:.3f}s" for t in ts) +
              f"  x{growth:.1f} per 10x data", file=sys.stderr)

    lines = [
        MARK_A,
        "",
        "Best-of-3 wall-clock per query per scale factor (local[32]); the",
        "last column is the growth across the 10x data step sf0.01 -> sf0.1.",
        "Generated by `tools/bench_scaling.py`.",
        "",
        "| query | sf0.001 | sf0.01 | sf0.1 | growth per 10x |",
        "|---|---|---|---|---|",
    ]
    for name, t1, t2, t3, g in rows:
        lines.append(
            f"| {name} | {t1:.2f}s | {t2:.2f}s | {t3:.2f}s | x{g:.1f} |"
        )
    lines += ["", MARK_B]
    _splice(MARK_A, MARK_B, "\n".join(lines),
            "## Measured scaling (sf0.001 -> sf0.1)")


def sf1_one(name: str) -> None:
    """Child mode: time ONE query at the three sf1-mode SFs in a fresh
    JVM and print one JSON line. Isolation matters: half a dozen
    heavy sf1 queries back-to-back in one driver JVM accumulate enough
    block-manager/GC pressure that an otherwise-tiny broadcast build
    fails — and per-query processes mirror how a cluster actually
    submits jobs."""
    import json as _json

    spark = get_spark(app_name=f"bdt-scaling-sf1-{name}")
    fn = all_queries()[name].fn
    ts = []
    for sf in SF1_SFS:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df = fn(spark, sf)
            df.count()
            release_caches(df)
            release_all_caches()
            best = min(best, time.perf_counter() - t0)
        ts.append(best)
    print(_json.dumps({"name": name, "ts": ts}))


def main_sf1() -> None:
    """Best-of-2 at the sf1 decade, one subprocess per query; writes a
    second marker block so the sf0.001->0.1 table stays comparable
    across rounds."""
    import json as _json
    import subprocess

    if not os.path.isdir(SF1_DIR):
        sys.exit(f"{SF1_DIR} missing — run tools/gen_sf1.py first")
    rows = []
    for name in SF1_QUERIES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--sf1-one", name],
            capture_output=True,
            text=True,
        )
        if proc.returncode != 0:
            print(f"# {name}: FAILED\n{proc.stderr[-2000:]}", file=sys.stderr)
            continue
        ts = _json.loads(proc.stdout.strip().splitlines()[-1])["ts"]
        growth = ts[2] / ts[1] if ts[1] > 0 else float("nan")
        rows.append((name, *ts, growth))
        print(f"# {name}: " + " ".join(f"{t:.3f}s" for t in ts) +
              f"  x{growth:.1f} for sf0.1->sf1", file=sys.stderr)

    lines = [
        MARK_SF1_A,
        "",
        "The next decade: best-of-2 wall-clock for the heaviest bench",
        "queries at sf0.01 / sf0.1 / sf1 (sf1 = 10x key-remapped",
        "replication of sf0.1, ~6M lineitem rows, with per-copy word",
        "permutation / embedding sign-masks so the corpus grows like a",
        "bigger crawl, not a duplicate bomb — tools/gen_sf1.py). One",
        "process per query. x10 would be exactly linear wall growth",
        "for 10x data on fixed cores. Generated by",
        "`tools/bench_scaling.py --with-sf1`.",
        "",
        "| query | sf0.01 | sf0.1 | sf1 | growth per 10x |",
        "|---|---|---|---|---|",
    ]
    for name, t1, t2, t3, g in rows:
        lines.append(
            f"| {name} | {t1:.2f}s | {t2:.2f}s | {t3:.2f}s | x{g:.1f} |"
        )
    lines += ["", MARK_SF1_B]
    _splice(MARK_SF1_A, MARK_SF1_B, "\n".join(lines),
            "## Measured scaling, next decade (sf0.01 -> sf1)")


# --sf3 mode (r5 VERDICT ask #6): one more confirmation step for the
# two ~linear dedup ops whose cost model is Sigma df^2 over shingle
# posting lists — if that sum were secretly quadratic in corpus size,
# the sf1->sf3 step would grow ~9x, not ~3x. sf3 = 30 key-remapped
# copies of sf0.1 documents (tools/gen_sf1.py --copies 30 --dest
# testdata_sf3 --tables documents,embeddings).
SF3_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "testdata_sf3")
SF3_QUERIES = ["dedup_jaccard_pairs", "dedup_components", "dedup_jaccard_prefix"]
MARK_SF3_A = "<!-- BENCH-SCALING-SF3:BEGIN -->"
MARK_SF3_B = "<!-- BENCH-SCALING-SF3:END -->"


def sf3_one(name: str) -> None:
    """Child: time ONE query at sf1 then sf3 in a fresh JVM (the
    within-process ratio self-normalizes box speed)."""
    import json as _json

    spark = get_spark(app_name=f"bdt-scaling-sf3-{name}")
    fn = all_queries()[name].fn
    ts = []
    for sf in (SF1_DIR, SF3_DIR):
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df = fn(spark, sf)
            df.count()
            release_caches(df)
            release_all_caches()
            best = min(best, time.perf_counter() - t0)
        ts.append(best)
    print(_json.dumps({"name": name, "ts": ts}))


def main_sf3() -> None:
    import json as _json
    import subprocess

    for d in (SF1_DIR, SF3_DIR):
        if not os.path.isdir(d):
            sys.exit(f"{d} missing — run tools/gen_sf1.py first")
    rows = []
    for name in SF3_QUERIES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--sf3-one", name],
            capture_output=True,
            text=True,
        )
        if proc.returncode != 0:
            print(f"# {name}: FAILED\n{proc.stderr[-2000:]}", file=sys.stderr)
            continue
        ts = _json.loads(proc.stdout.strip().splitlines()[-1])["ts"]
        growth = ts[1] / ts[0] if ts[0] > 0 else float("nan")
        rows.append((name, *ts, growth))
        print(f"# {name}: " + " ".join(f"{t:.3f}s" for t in ts) +
              f"  x{growth:.2f} for sf1->sf3 (3x data)", file=sys.stderr)

    lines = [
        MARK_SF3_A,
        "",
        "Linearity confirmation for the Sigma-df^2 dedup cost model:",
        "best-of-2 wall at sf1 vs sf3 (3x data, 30 remapped copies of",
        "sf0.1 documents), one process per query so the within-run",
        "ratio self-normalizes box speed. ~x3 = linear; ~x9 would mean",
        "the posting-list sum is secretly quadratic. Generated by",
        "`tools/bench_scaling.py --with-sf3`.",
        "",
        "| query | sf1 | sf3 | growth for 3x data |",
        "|---|---|---|---|",
    ]
    for name, t1, t2, g in rows:
        lines.append(f"| {name} | {t1:.2f}s | {t2:.2f}s | x{g:.2f} |")
    lines += ["", MARK_SF3_B]
    _splice(MARK_SF3_A, MARK_SF3_B, "\n".join(lines),
            "## Measured scaling, linearity step (sf1 -> sf3)")


def ivf_amortized() -> None:
    """Measure the fit-once/dedup-many amortization for
    dedup_semantic_groups at sf1: one-shot (KMeans fit inside) vs the
    `semantic_dedup_groups_from_index` path over an IvfIndex.load-ed
    index (r5 VERDICT ask #6 second half)."""
    import json as _json
    import shutil
    import tempfile

    from big_data_tools_spark.io.sources import load_table
    from big_data_tools_spark.operators.semdedup import (
        semantic_dedup_groups,
        semantic_dedup_groups_from_index,
    )
    from big_data_tools_spark.operators.similarity import IvfIndex

    spark = get_spark(app_name="bdt-scaling-ivf")
    emb = load_table(spark, SF1_DIR, "embeddings")

    def one_shot() -> float:
        t0 = time.perf_counter()
        df = semantic_dedup_groups(emb, "vec_id", "embedding",
                                   threshold=0.45, n_clusters="auto")
        df.count()
        dt = time.perf_counter() - t0
        release_caches(df)
        release_all_caches()
        return dt

    one_shot()  # warm
    t_oneshot = min(one_shot(), one_shot())

    d = tempfile.mkdtemp(prefix="bdt_ivf_")
    try:
        # identical fit parameters to the one inside
        # semantic_dedup_groups (auto-k, r8), so the A/B isolates
        # exactly the fit+save vs load trade
        t0 = time.perf_counter()
        index = IvfIndex.fit(emb, "vec_id", "embedding", "auto", max_iter=8,
                             init_mode="random", fit_sample_cap=100_000,
                             auto_rows_per_cluster=2048,
                             fit_rows_per_centroid=200)
        index.save(d)
        t_fit_save = time.perf_counter() - t0
        index.unpersist()

        def amortized() -> float:
            t0 = time.perf_counter()
            idx = IvfIndex.load(spark, d)
            df = semantic_dedup_groups_from_index(idx, "vec_id",
                                                  threshold=0.45)
            df.count()
            dt = time.perf_counter() - t0
            release_caches(df)
            release_all_caches()
            idx._assigned.unpersist()
            return dt

        amortized()  # warm
        t_amortized = min(amortized(), amortized())
    finally:
        shutil.rmtree(d, ignore_errors=True)

    out = {
        "one_shot_sec": round(t_oneshot, 3),
        "fit_save_once_sec": round(t_fit_save, 3),
        "load_dedup_sec": round(t_amortized, 3),
        "amortized_speedup": round(t_oneshot / t_amortized, 2),
    }
    print(_json.dumps(out))
    lines = [
        MARK_IVF_A,
        "",
        "Fit-once/dedup-many amortization for `dedup_semantic_groups`",
        "at sf1 (60k embeddings): the one-shot form pays the KMeans fit",
        "every run; a nightly pipeline fits + saves the IvfIndex once",
        "and each incremental dedup loads it",
        "(`semantic_dedup_groups_from_index`) and pays only the",
        "clustered self-join + components fixpoint. Generated by",
        "`tools/bench_scaling.py --ivf-amortized`.",
        "",
        "| path | wall |",
        "|---|---|",
        f"| one-shot (fit inside, every run) | {t_oneshot:.2f}s |",
        f"| fit + save (once) | {t_fit_save:.2f}s |",
        f"| load + dedup (every run) | {t_amortized:.2f}s |",
        f"| amortized speedup per run | x{out['amortized_speedup']:.2f} |",
        "",
        MARK_IVF_B,
    ]
    _splice(MARK_IVF_A, MARK_IVF_B, "\n".join(lines),
            "## IvfIndex amortization (fit once, dedup many)")


MARK_IVF_A = "<!-- BENCH-IVF-AMORTIZED:BEGIN -->"
MARK_IVF_B = "<!-- BENCH-IVF-AMORTIZED:END -->"


def _splice(mark_a: str, mark_b: str, block: str, heading: str) -> None:
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "SCALING.md")
    text = open(path).read()
    if mark_a in text:
        text = re.sub(re.escape(mark_a) + ".*?" + re.escape(mark_b),
                      block, text, flags=re.S)
    else:
        text = text.rstrip() + f"\n\n{heading}\n\n" + block + "\n"
    open(path, "w").write(text)
    print(f"wrote block into {path}")


if __name__ == "__main__":
    if "--sf1-one" in sys.argv:
        sf1_one(sys.argv[sys.argv.index("--sf1-one") + 1])
    elif "--with-sf1" in sys.argv:
        main_sf1()
    elif "--sf3-one" in sys.argv:
        sf3_one(sys.argv[sys.argv.index("--sf3-one") + 1])
    elif "--with-sf3" in sys.argv:
        main_sf3()
    elif "--ivf-amortized" in sys.argv:
        ivf_amortized()
    else:
        main()
