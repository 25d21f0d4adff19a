"""End-to-end corpus build CLI: curated documents -> token-budget
shards -> partitioned parquet + manifest.

    python -m big_data_tools_spark.pipeline.corpus_build \
        --sf-dir /root/testdata/sf0.01 --out /tmp/corpus

This is the artifact a training run actually consumes, produced by
composing the operators the registry checks one by one:

1. curation (queries/corpus.py ``curated_documents``): PII scrub ->
   quality score -> language ID -> exact dedup, one Catalyst plan,
   two shuffles at any corpus size;
2. packing (operators/packing.py ``pack_token_shards``): deterministic
   (bucket, shard) assignment under a token budget — no global sort,
   parallelism = n_buckets;
3. layout (io/sinks.py): documents parquet partitioned by bucket and
   sorted by (shard, doc_id) within partitions, so a trainer reads one
   shard with a partition-pruned, row-group-skipping scan; the shard
   manifest parquet + a JSON summary sit next to it.

Every number in the JSON summary is a distributed aggregate collected
at one-row/per-source granularity (driver-side scalars, never data).
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.agg import dmean
from ..io.sinks import parquet_layout_stats, write_parquet
from ..operators.packing import pack_token_shards, shard_manifest
from ..queries.corpus import curated_documents


def build_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    budget: int = 4096,
    n_buckets: int = 16,
    split: bool = False,
    split_salt: str = "split-v1",
    mixture_tau: float | None = None,
) -> dict:
    """Write ``out_dir/{documents,shards,manifest.json}``; returns the
    summary dict that also lands in manifest.json.

    ``split=True`` adds a leakage-safe 80/10/10 train/val/test column
    keyed on the CONTENT fingerprint already computed by the curation
    plan (same construction as the oracle-checked
    ``leakage_safe_corpus_split``): duplicates can never straddle
    train and test, and the assignment is stable across re-ingestion
    (portable md5 uniform on fp + ``split_salt``).

    ``mixture_tau`` applies temperature-based source rebalancing
    (operators/sampling.py ``temperature_mixture_plan``, the XLM-R
    recipe) between curation and packing: per-source keep rates come
    from share^(1/tau) budgets (clamped — no upsampling), membership
    is a deterministic doc-id hash, and the manifest records tau.
    """
    from ..operators.sampling import md5_uniform, temperature_mixture_plan

    kept = curated_documents(spark, sf_dir)
    if mixture_tau is not None:
        rates = temperature_mixture_plan(kept, "source", tau=mixture_tau).select(
            "source",
            F.least(F.col("target_n") / F.col("n_rows"), F.lit(1.0)).alias("__rate"),
        )
        kept = (
            kept.join(F.broadcast(rates), "source")
            .filter(
                md5_uniform(F.col("doc_id"), salt=f"mix-{mixture_tau}")
                <= F.col("__rate")
            )
            .drop("__rate")
        )
    if split:
        u = md5_uniform(F.col("fp"), salt=split_salt)
        kept = kept.withColumn(
            "split",
            F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test"),
        )
    kept = kept.persist()
    packed = pack_token_shards(
        kept, "text", "doc_id", budget=budget, n_buckets=n_buckets
    )
    docs = kept.join(packed.select("doc_id", "bucket", "shard"), "doc_id")
    doc_cols = [
        "doc_id", "source", "pred_lang", "quality", "n_tok",
        "bucket", "shard", "text",
    ] + (["split", "fp"] if split else [])
    # one writer task per bucket: each bucket=... directory gets a few
    # right-sized files instead of (shuffle partitions x buckets)
    # KB-scale ones; n_buckets is the write parallelism knob, sized to
    # the cluster at real scale
    write_parquet(
        docs.select(*doc_cols).repartition(n_buckets, "bucket"),
        f"{out_dir}/documents",
        partition_by=["bucket"],
        sort_within_partitions=["shard", "doc_id"],
    )
    write_parquet(
        shard_manifest(packed), f"{out_dir}/shards", max_records_per_file=None
    )
    per_source = {
        r["source"]: {
            "n_docs": r["n_docs"],
            "total_tokens": r["total_tokens"],
            "avg_quality": r["avg_quality"],
        }
        for r in kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            dmean("quality", 3).alias("avg_quality"),
        )
        .collect()
    }
    n_shards = packed.select("bucket", "shard").distinct().count()
    per_split = (
        {
            r["split"]: r["n_docs"]
            for r in kept.groupBy("split")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
            .collect()
        }
        if split
        else None
    )
    n_files, total_bytes = parquet_layout_stats(spark, f"{out_dir}/documents")
    kept.unpersist()
    summary = {
        "sf_dir": sf_dir,
        "budget": budget,
        "n_buckets": n_buckets,
        "n_docs": sum(s["n_docs"] for s in per_source.values()),
        "total_tokens": sum(s["total_tokens"] for s in per_source.values()),
        "n_shards": n_shards,
        "n_files": n_files,
        "total_bytes": total_bytes,
        "per_source": per_source,
    }
    if per_split is not None:
        summary["per_split"] = per_split
        summary["split_salt"] = split_salt
    if mixture_tau is not None:
        summary["mixture_tau"] = mixture_tau
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(summary, f, indent=2, sort_keys=True)
    return summary


def main(argv: list[str] | None = None) -> dict:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    p.add_argument("--out", required=True)
    p.add_argument("--budget", type=int, default=4096)
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument(
        "--split",
        action="store_true",
        help="add a leakage-safe content-keyed train/val/test column",
    )
    p.add_argument("--split-salt", default="split-v1")
    p.add_argument(
        "--mixture-tau",
        type=float,
        default=None,
        help="temperature for source rebalancing (XLM-R recipe); omit to keep "
        "the natural mixture",
    )
    args = p.parse_args(argv)

    from ..session import get_spark

    spark = get_spark(app_name="corpus-build")
    summary = build_corpus(
        spark,
        args.sf_dir,
        args.out,
        budget=args.budget,
        n_buckets=args.buckets,
        split=args.split,
        split_salt=args.split_salt,
        mixture_tau=args.mixture_tau,
    )
    print(json.dumps(summary, sort_keys=True))
    return summary


if __name__ == "__main__":
    main()
