"""Structured Streaming front-end (SURVEY.md §2.5 R17).

The reference is request/response, not a stream, and the CC snapshot input
is a static table — so batch is the primary mode.  This module is the
documented drop-in for a WARC-firehose scenario: the batch extraction
chain (cc_extract.job.extract_df) runs under ``readStream``, with
watermark-bounded keep-one-per-url dedup and checkpointed exactly-once
file sink.  Nothing here forks the extraction semantics, so stream
output hashes equal batch output hashes (tested in
tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .corpusgen import CORPUS_SCHEMA
from .job import DEFAULT_BUCKETS, extract_df


def stream_documents(
    spark: SparkSession, input_dir: str, max_files: int = 8
) -> DataFrame:
    """File-source stream of the documents table (one parquet dir; each
    new file is a micro-batch of crawled pages)."""
    return (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def extract_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
    watermark: str = "1 day",
    max_files: int = 8,
    dedup_key: str = "url",
):
    """streaming scan -> dedup-within-watermark -> job.extract_df (the
    batch extraction chain) -> checkpointed parquet sink.  Returns the
    StreamingQuery.

    Dedup semantics vs batch: the batch job keeps the NEWEST crawl per
    url globally; a stream can only keep the FIRST within the watermark
    (late duplicates beyond the watermark are dropped by definition).
    That difference is inherent to streaming and documented here.

    Skew parity with batch (R5): a giant payload inside a micro-batch
    skews that batch exactly the way the batch job's salting exists to
    prevent.  The dedup's exchange hash-partitions every micro-batch by
    its key over ``spark.sql.shuffle.partitions`` tasks, and extract_df
    extracts in those partitions: the one payload shuffle of a stream.
    """
    docs = stream_documents(spark, input_dir, max_files=max_files)
    docs = docs.withWatermark("warc_ts", watermark)
    if dedup_key == "canonical":
        # canonical-key dedup (textops.url_canonical_col): collapses
        # tracking-decorated republications of the same page inside the
        # watermark — the streaming twin of cc_canonical_dedup.  The
        # canonical column is a pure projection, so the only cost vs raw
        # dedup is the state-store key it replaces.
        from .textops import url_canonical_col

        docs = (
            docs.withColumn("_canonical", url_canonical_col("url"))
            .dropDuplicatesWithinWatermark(["_canonical"])
            .drop("_canonical")
        )
    else:
        docs = docs.dropDuplicatesWithinWatermark(["url"])
    return (
        extract_df(docs, n_buckets).writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ------------------------------------------- custom stateful operator (R17)

DOMAIN_STATS_OUT = "domain string, n_docs long, total_bytes long"
DOMAIN_STATS_STATE = "n_docs long, total_bytes long"


def _domain_stats_update(key, pdfs, state):
    """applyInPandasWithState update fn: running (n_docs, total_bytes) per
    domain.  State is a 2-tuple; each micro-batch folds its rows in and
    emits the cumulative row (so the sink is an audit log of the running
    totals — the per-domain crawl accounting a firehose consumer keeps)."""
    import pandas as pd

    n, b = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        b += int(pdf["n_bytes"].sum())
    state.update((n, b))
    yield pd.DataFrame({"domain": [key[0]], "n_docs": [n], "total_bytes": [b]})


def domain_stats_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files: int = 1,
):
    """Custom STATEFUL streaming operator (SURVEY.md §2.5 R17 beyond the
    built-ins): per-domain running crawl statistics via
    ``applyInPandasWithState`` — arbitrary user state (not expressible as
    a windowed agg) carried across micro-batches and recovered from the
    checkpoint on restart.  Scale shape: state is O(domains), keyed and
    shuffled once per micro-batch on the domain hash; payload bytes never
    enter the state store (only their lengths)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    docs = stream_documents(spark, input_dir, max_files=max_files)
    d = docs.select(
        F.regexp_extract("url", "//([^/]+)", 1).alias("domain"),
        F.coalesce(F.length("html"), F.lit(0)).cast("long").alias("n_bytes"),
    )
    out = d.groupBy("domain").applyInPandasWithState(
        _domain_stats_update,
        DOMAIN_STATS_OUT,
        DOMAIN_STATS_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ----------------------------- event-time windowed aggregation (R17 core)

def windowed_crawl_stats_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    max_files: int = 1,
):
    """Event-time tumbling-window aggregation with watermarked late-data
    semantics — Structured Streaming's canonical stateful operator: docs
    and bytes per crawl-timestamp window, APPEND output mode, so a
    window reaches the sink exactly once, only after the watermark
    passes its end, and a row arriving later than ``watermark`` behind
    the stream's max event time is DROPPED (never re-opens an emitted
    window).  This is the per-window crawl-volume accounting a firehose
    consumer keeps.

    Scale shape: state is O(open windows), not O(rows) — the aggregate
    is partial-aggregable inside each micro-batch before touching the
    state store, and the watermark bounds state size by construction.
    Returns the StreamingQuery."""
    docs = stream_documents(spark, input_dir, max_files=max_files)
    agg = (
        docs.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.length("html"), F.lit(0))).alias("total_bytes"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "n_docs",
            "total_bytes",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ------------------------------------ stream-static join (R17 enrichment)

def reputation_filtered_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    reputation: list[tuple[str, str]],
    max_files: int = 8,
):
    """Stream-static join — the canonical enrichment shape Structured
    Streaming was built around: every micro-batch equi-joins the STATIC
    domain-reputation dimension (broadcast — it never shuffles the
    stream side), unknown domains default to 'unknown', and 'blocked'
    domains are dropped BEFORE any extraction cost is paid.  This is
    the crawl-side reputation/blocklist gate every production firehose
    consumer runs.

    *reputation* is the static dim as (domain, reputation) pairs —
    in production a table the job reads once at start; the stream side
    re-joins it per micro-batch at zero re-read cost because the
    broadcast is reused.  Returns the StreamingQuery."""
    rep = spark.createDataFrame(reputation, "domain string, reputation string")
    docs = stream_documents(spark, input_dir, max_files=max_files)
    out = (
        docs.withColumn(
            "domain", F.regexp_extract("url", "//([^/]+)", 1)
        )
        .join(F.broadcast(rep), "domain", "left")
        .fillna("unknown", subset=["reputation"])
        .filter(F.col("reputation") != "blocked")
        .select(
            "url", "domain", "reputation", "warc_ts",
            F.coalesce(F.length("html"), F.lit(0)).alias("n_bytes"),
        )
    )
    return (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
