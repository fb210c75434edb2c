"""Crawl-corpus medallion — WARC to training-ready text as on-disk layers.

The events medallion (pipeline.py) is the reference's lifecycle surface;
this is the same re-entrant layered pattern applied to the crawl-curation
operators the engine grew for pretraining data, composed END-TO-END:

- bronze/responses   parsed WARC response records (sources/warc.py scan)
                     + canonical_url (operators/urls.py) + the canonical
                     host — the once-written full-size layer.
- silver/docs        curated text: status/content-type screens, the
                     UT1-style blocklist on the CANONICAL host (respelled
                     hosts must not dodge the blocklist — the reason the
                     blocklist runs after canonicalization), URL-grain
                     dedup (min record wins), HTML→text extraction
                     (operators/html.py), char counts.

Downstream layers are the already-attested operators — boilerplate_strip,
quality/gopher flags, content dedup, pack_sequences — each a silver→gold
step with the same parquet handoff; silver is where THIS module stops
because everything after it is content-grain and already oracle-attested
standalone.

At 100 TB: bronze is written once from the splittable WARC scan (record
parsing rides the scan, SCALING.md §2j); every silver screen before the
dedup is a scan-local projection or broadcast anti-join, and the only
shuffle in the whole pipeline is the URL-dedup verdict groupBy+join
(skew-absorbed map-side, SCALING.md §2k). No stage holds state in memory
— re-entrancy is the parquet boundary, exactly like the events medallion.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import html as htmlops
from .operators import urls
from .operators.textops import pack_sequences
from .sources import warc


def build_crawl_bronze(
    spark: SparkSession, warc_dir: str, out_dir: str
) -> str:
    """Parse the crawl to the bronze responses table: one row per WARC
    response with a numeric identity, canonical_url, and the canonical
    host. Not partitioned: host cardinality at crawl scale is far too
    high for directory partitioning (sort-within-partitions on host
    would be the clustering device if host-pruned reads mattered).

    Identity derivation is SOURCE-SPECIFIC: this extracts the digit run
    from the record id (the synthesized fixture encodes the record
    index there, which keeps the downstream min-id-wins dedup equal to
    keep-first-capture AND lets the oracle replay it). A production
    crawl with opaque uuid record ids would substitute the md5-int64
    device (provenance.row_digest) for the identity and order dedup on
    WARC-Date instead — both one-line swaps on this column."""
    path = os.path.join(out_dir, "bronze", "responses")
    resp = warc.warc_responses(spark, warc_dir)
    canon = urls.canonical_url(F.col("target_uri"))
    (
        resp.select(
            F.regexp_extract("record_id", r"(\d+)", 1)
            .cast("bigint")
            .alias("doc_id"),
            "target_uri",
            canon.alias("canonical_url"),
            F.regexp_extract(canon, r"^[a-z]+://([^/:]+)", 1).alias(
                "canonical_host"
            ),
            "http_status",
            "content_type",
            "body",
        )
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def build_crawl_silver(
    spark: SparkSession,
    bronze_path: str,
    out_dir: str,
    blocked_hosts: DataFrame,
) -> str:
    """Curate bronze to the silver docs table: HTTP 200 + text/html only,
    canonical-host blocklist (broadcast anti), URL-grain dedup (min
    doc_id per canonical_url wins), HTML→text extraction."""
    path = os.path.join(out_dir, "silver", "docs")
    b = spark.read.parquet(bronze_path)
    screened = b.filter(
        (F.col("http_status") == 200)
        & (F.col("content_type") == "text/html")
    ).join(
        F.broadcast(
            blocked_hosts.select(F.col("host").alias("canonical_host"))
        ),
        "canonical_host",
        "left_anti",
    )
    keep = (
        urls.url_dedup_decisions(screened, "canonical_url", "doc_id")
        .filter(F.col("keep"))
        .select("doc_id")
    )
    text = htmlops.html_to_text(F.col("body"))
    (
        screened.join(keep, "doc_id", "left_semi")
        .select(
            "doc_id",
            F.col("canonical_host").alias("host"),
            "canonical_url",
            text.alias("text"),
            F.length(text).cast("bigint").alias("n_chars"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def build_crawl_gold(
    spark: SparkSession, silver_path: str, out_dir: str, budget: int = 64
) -> dict[str, str]:
    """Training-ready gold: sequence-packing offsets over the curated
    docs (gold/packed — textops.pack_sequences, the bucketed two-level
    prefix sum, no single-task window) plus the provenance manifest
    (gold/manifest — one (n_rows, content_digest) row per layer, the
    snapshot_provenance device). The manifest is the re-entrancy
    receipt: rebuilding gold from the same silver must reproduce the
    digests bit-for-bit, so a scheduler can skip or verify layers
    without reading them."""
    from .operators import provenance
    from .operators import textops

    packed_path = os.path.join(out_dir, "gold", "packed")
    docs = spark.read.parquet(silver_path)
    textops.pack_sequences(
        docs, budget=budget, text_col="text", id_col="doc_id"
    ).write.mode("overwrite").parquet(packed_path)
    manifest_path = os.path.join(out_dir, "gold", "manifest")
    packed = spark.read.parquet(packed_path)
    provenance.provenance_manifest(
        {
            "silver_docs": (
                docs,
                ["doc_id", "canonical_url", "md5(text)", "n_chars"],
            ),
            "gold_packed": (
                packed,
                ["doc_id", "n_tokens", "start_offset", "first_seq",
                 "last_seq", "n_seqs"],
            ),
        }
    ).write.mode("overwrite").parquet(manifest_path)
    return {"packed": packed_path, "manifest": manifest_path}


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Token-balanced training-shard sink: docs are laid out in id order on
    a concatenated token stream (the pack_sequences prefix-sum shape) and
    cut into ``n_shards`` equal token spans, so every shard carries ~the
    same training token budget regardless of document-length skew — the
    property a data-parallel trainer needs so no reader starves.

    Shard assignment reuses the bucketed two-level prefix sum from
    textops.pack_sequences (no single-task global window); the write is one
    hash repartition on the shard key into ``shard=K`` parquet partitions.
    At 100 TB: one shuffle of (id, text) rows keyed by shard — the same
    cost as any partitioned write — with the assignment itself computed
    from a tiny per-bucket offset frame.
    """
    path = os.path.join(out_dir, "training_shards")
    packed = pack_sequences(df, budget=1, bucket_size=1024,
                            text_col=text_col, id_col=id_col)
    # total stream length via the last doc's end offset (single tiny agg)
    total = packed.agg(
        F.max(F.col("start_offset") + F.col("n_tokens")).alias("t")
    )
    assign = (
        packed.crossJoin(F.broadcast(total))
        # midpoint of the doc's span decides its shard: docs never split
        .withColumn(
            "shard",
            F.least(
                F.lit(n_shards - 1),
                F.floor(
                    (F.col("start_offset") + F.col("n_tokens") / 2)
                    * n_shards
                    / F.greatest(F.col("t"), F.lit(1))
                ),
            ).cast("int"),
        )
        .select(id_col, "n_tokens", "shard")
    )
    out = df.join(assign, id_col)
    (
        out.repartition(n_shards, F.col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    return path


def main(argv: list[str] | None = None) -> None:
    """CLI: ``python -m practicum2_nof1_adhd_bd_spark.corpus_pipeline
    --warc-dir ... --out ... [--blocked host1,host2]``"""
    import argparse

    from .session import get_spark

    ap = argparse.ArgumentParser(description="Run the crawl-corpus medallion")
    ap.add_argument("--warc-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--blocked", default="")
    args = ap.parse_args(argv)
    spark = get_spark("corpus-pipeline")
    blocked = spark.createDataFrame(
        [(h,) for h in args.blocked.split(",") if h] or [("",)],
        "host string",
    )
    bronze = build_crawl_bronze(spark, args.warc_dir, args.out)
    silver = build_crawl_silver(spark, bronze, args.out, blocked)
    gold = build_crawl_gold(spark, silver, args.out)
    print(silver, gold["packed"], gold["manifest"])


if __name__ == "__main__":
    main()
