"""Streaming front-end test: the SAME extraction UDF under readStream must
produce byte-identical per-url text hashes to the batch pipeline."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cc_extract import streaming
from cc_extract.corpusgen import corpus_df
from cc_extract.job import pipeline_df
from tests.plan_check import payload_exchanges, query_plan


def test_stream_matches_batch_hashes(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    corpus_df(spark, 400, partitions=4).write.parquet(input_dir)

    q = streaming.extract_stream(spark, input_dir, out_dir, ckpt, n_buckets=8)
    q.awaitTermination(240)
    assert not q.isActive

    stream_out = spark.read.parquet(out_dir).select("url", "text_sha256", "status")
    batch_out = (
        pipeline_df(spark.read.parquet(input_dir), n_buckets=8)
        .select("url", "text_sha256", "status")
    )
    s = {(r["url"], r["text_sha256"], r["status"]) for r in stream_out.collect()}
    b = {(r["url"], r["text_sha256"], r["status"]) for r in batch_out.collect()}

    # same url set; stream keeps FIRST-within-watermark while batch keeps
    # NEWEST, so compare on the non-duplicated urls (98% of the corpus)
    # and require the dup urls to at least be present
    assert {u for u, _, _ in s} == {u for u, _, _ in b}
    dup_urls = {u for u, _, _ in b} - {u for u, h, st in b if (u, h, st) in s}
    # every differing url must be a genuine duplicate-crawl url
    docs = spark.read.parquet(input_dir)
    counts = {r["url"]: r["n"] for r in
              docs.groupBy("url").agg(F.count("*").alias("n")).collect()}
    for u in dup_urls:
        assert counts[u] > 1, f"stream/batch mismatch on non-dup url {u}"

    # checkpointed resume: rerunning with availableNow and no new files
    # must be a no-op (exactly-once sink)
    n_before = spark.read.parquet(out_dir).count()
    q2 = streaming.extract_stream(spark, input_dir, out_dir, ckpt, n_buckets=8)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == n_before


def test_stream_dedup_keeps_first_within_watermark(spark, tmp_path):
    """The documented stream/batch divergence (streaming.py): a duplicate
    url arriving in a LATER micro-batch within the watermark is dropped —
    the stream keeps the FIRST crawl, where batch keeps the NEWEST.  This
    pins the documented semantics with an actual cross-micro-batch dup."""
    import datetime as dt
    import glob

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    url = "https://stream.example/dup.txt"

    def write_file(name: str, payload: bytes, ts: dt.datetime, mtime: float):
        df = spark.createDataFrame(
            [(url, ts, bytearray(payload), "", "en")],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        stage = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(input_dir, f"{name}.parquet")
        os.rename(part, dst)
        # the file source orders micro-batches by modification time —
        # pin distinct mtimes so batch order is deterministic
        os.utime(dst, (mtime, mtime))

    # first crawl arrives first (older mtime); second crawl is NEWER by
    # warc_ts but arrives in a later micro-batch, inside the watermark
    write_file("f1", b"first crawl text", dt.datetime(2025, 1, 1), 1_700_000_000)
    write_file("f2", b"second crawl text", dt.datetime(2025, 1, 1, 12), 1_700_000_100)

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = streaming.extract_stream(
        spark, input_dir, out_dir, ckpt, n_buckets=4, max_files=1
    )
    q.awaitTermination(240)
    assert not q.isActive

    rows = spark.read.parquet(out_dir).select("url", "text_out").collect()
    assert len(rows) == 1, rows
    assert rows[0]["text_out"] == "first crawl text"

    # and the batch pipeline keeps the NEWEST for the same input
    batch = pipeline_df(
        spark.read.parquet(input_dir), n_buckets=4
    ).select("text_out").collect()
    assert [r["text_out"] for r in batch] == ["second crawl text"]


def test_stream_salts_giants_within_micro_batch(spark, tmp_path):
    """R5 parity on the stream path: giant payloads inside ONE micro-batch
    must spread across execution partitions even when they share a bucket.
    n_buckets=1 forces every row into bucket 0 and the input is one file,
    so without the dedup exchange's url-hash partitioning the whole batch
    (giants included) would extract in a single task."""
    import datetime as dt

    input_dir = str(tmp_path / "in")
    rows = []
    giant = b"x" * (1 << 20 + 1)  # > 1 MiB threshold
    for i in range(6):
        rows.append(
            (f"https://stream.example/giant{i}.txt", dt.datetime(2025, 1, 1),
             bytearray(giant + str(i).encode()), "", "en")
        )
    for i in range(20):
        rows.append(
            (f"https://stream.example/small{i}.txt", dt.datetime(2025, 1, 1),
             bytearray(f"small doc {i}".encode()), "", "en")
        )
    spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).coalesce(1).write.parquet(input_dir)

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = streaming.extract_stream(spark, input_dir, out_dir, ckpt, n_buckets=1)
    q.awaitTermination(240)
    assert not q.isActive

    # the sink writes one part file per task, so the distinct files that
    # hold giants count the tasks that extracted them
    out = spark.read.parquet(out_dir).withColumn("file", F.input_file_name())
    giants = out.filter(F.col("n_bytes_in") > (1 << 20)).collect()
    assert len(giants) == 6
    # all share the single bucket, yet the salt spread them across tasks
    assert {r["bucket"] for r in giants} == {0}
    files = {r["file"] for r in giants}
    assert len(files) > 1, f"giants all extracted in one task: {files}"


def test_stream_has_one_payload_shuffle(spark, tmp_path):
    """Scale guard on the stream path, the check of
    test_pipeline.test_only_one_payload_shuffle: the watermark dedup's
    url-hash exchange is the only Exchange that carries ``html``;
    extraction runs in its partitions."""
    input_dir = str(tmp_path / "in")
    corpus_df(spark, 60, partitions=2).write.parquet(input_dir)
    q = streaming.extract_stream(spark, input_dir, str(tmp_path / "out"),
                                 str(tmp_path / "ckpt"), n_buckets=4)
    q.awaitTermination(240)
    assert not q.isActive
    plan = query_plan(spark, q)
    assert "StreamingDeduplicateWithinWatermark" in plan, plan
    assert payload_exchanges(plan) == 1, (
        f"expected exactly 1 payload shuffle, plan:\n{plan}")


def test_stateful_domain_stats_across_micro_batches(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): per-domain
    running totals must carry state ACROSS micro-batches within a run and
    ACROSS runs via the checkpoint."""
    import datetime as dt
    import glob

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)

    def write_file(name, n_rows, mtime):
        rows = [
            (f"https://stateful.example/{name}/{i}.txt", dt.datetime(2025, 1, 1),
             bytearray(b"x" * 100), "", "en")
            for i in range(n_rows)
        ]
        df = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, lang string")
        stage = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(input_dir, f"{name}.parquet")
        os.rename(part, dst)
        os.utime(dst, (mtime, mtime))

    write_file("f1", 3, 1_700_000_000)
    write_file("f2", 5, 1_700_000_100)

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = streaming.domain_stats_stream(spark, input_dir, out_dir, ckpt, max_files=1)
    q.awaitTermination(240)
    assert not q.isActive

    rows = sorted(
        (r["n_docs"], r["total_bytes"])
        for r in spark.read.parquet(out_dir).collect()
    )
    # two micro-batches -> two cumulative emissions: 3 docs then 3+5
    assert rows == [(3, 300), (8, 800)], rows

    # restart with a third file: state recovered from checkpoint
    write_file("f3", 2, 1_700_000_200)
    q2 = streaming.domain_stats_stream(spark, input_dir, out_dir, ckpt, max_files=1)
    q2.awaitTermination(240)
    totals = {r["n_docs"] for r in spark.read.parquet(out_dir).collect()}
    assert 10 in totals, totals  # 8 + 2, not 2 — state survived the restart


def test_stream_canonical_dedup_collapses_decorated_urls(spark, tmp_path):
    """dedup_key='canonical': a tracking-decorated republication of the
    same page arriving in a later micro-batch is dropped (raw-url dedup
    would keep both — the cc_canonical_dedup semantics under streaming)."""
    import datetime as dt
    import glob

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    base = "https://stream.example/page.txt"
    decorated = "https://Stream.EXAMPLE:443/page.txt?utm_source=feed#s1"

    def write_file(name, url, payload, ts, mtime):
        df = spark.createDataFrame(
            [(url, ts, bytearray(payload), "", "en")],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        stage = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(input_dir, f"{name}.parquet")
        os.rename(part, dst)
        os.utime(dst, (mtime, mtime))

    write_file("f1", base, b"original crawl", dt.datetime(2025, 1, 1), 1_700_000_000)
    write_file("f2", decorated, b"republished crawl", dt.datetime(2025, 1, 1, 6), 1_700_000_100)

    out_dir = str(tmp_path / "out")
    q = streaming.extract_stream(
        spark, input_dir, out_dir, str(tmp_path / "ckpt"),
        n_buckets=4, max_files=1, dedup_key="canonical",
    )
    q.awaitTermination(240)
    assert not q.isActive
    rows = spark.read.parquet(out_dir).select("url", "text_out").collect()
    assert len(rows) == 1 and rows[0]["url"] == base, rows
    assert rows[0]["text_out"] == "original crawl"

    # raw-url dedup keeps BOTH (the class canonical dedup exists for)
    out2 = str(tmp_path / "out2")
    q2 = streaming.extract_stream(
        spark, input_dir, out2, str(tmp_path / "ckpt2"),
        n_buckets=4, max_files=1,
    )
    q2.awaitTermination(240)
    assert spark.read.parquet(out2).count() == 2


def test_windowed_agg_drops_late_rows_and_finalizes_windows(spark, tmp_path):
    """Event-time windowed aggregation under append mode: a window emits
    exactly once, only after the watermark passes its end; a row landing
    behind the checkpointed watermark is dropped and never re-opens an
    emitted window.  Two runs against one checkpoint pin both halves."""
    import datetime as dt
    import glob

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)

    def write_file(name: str, rows, mtime: float):
        df = spark.createDataFrame(
            [
                (f"https://win.example/{name}/{k}.txt", ts,
                 bytearray(b"x" * nb), "", "en")
                for k, (ts, nb) in enumerate(rows)
            ],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        stage = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(input_dir, f"{name}.parquet")
        os.rename(part, dst)
        os.utime(dst, (mtime, mtime))

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    d = dt.datetime

    # run 1: events 10:00 + 10:30 (window 10), 11:15 (window 11), and a
    # 13:00 row that pushes the final watermark to 11:00 — so only the
    # 10:00 window has closed when the run drains
    write_file(
        "f1",
        [(d(2025, 1, 1, 10, 0), 10), (d(2025, 1, 1, 10, 30), 20),
         (d(2025, 1, 1, 11, 15), 40), (d(2025, 1, 1, 13, 0), 80)],
        1_700_000_000,
    )
    q = streaming.windowed_crawl_stats_stream(spark, input_dir, out_dir, ckpt)
    q.awaitTermination(240)
    assert not q.isActive
    got = {
        r["win_start"].hour: (r["n_docs"], r["total_bytes"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {10: (2, 30)}

    # run 2: a 10:45 row behind the checkpointed 11:00 watermark (must be
    # dropped — the emitted 10:00 window never updates) plus a 15:00 row
    # advancing the watermark to 13:00: window 11 (end 12:00) closes,
    # window 13 (end 14:00) is still open and must NOT emit yet
    write_file(
        "f2",
        [(d(2025, 1, 1, 10, 45), 999), (d(2025, 1, 1, 15, 0), 160)],
        1_700_000_100,
    )
    q2 = streaming.windowed_crawl_stats_stream(spark, input_dir, out_dir, ckpt)
    q2.awaitTermination(240)
    assert not q2.isActive
    got = {
        r["win_start"].hour: (r["n_docs"], r["total_bytes"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # late 10:45 row absent everywhere; window 10 emitted exactly once
    assert got == {10: (2, 30), 11: (1, 40)}

    # run 3: a 17:00 row pushes the watermark to 15:00 — the held-back
    # window 13 finally emits (exactly once); windows 15 (end 16:00 >
    # watermark) and 17 stay open
    write_file("f3", [(d(2025, 1, 1, 17, 0), 320)], 1_700_000_200)
    q3 = streaming.windowed_crawl_stats_stream(spark, input_dir, out_dir, ckpt)
    q3.awaitTermination(240)
    assert not q3.isActive
    got = {
        r["win_start"].hour: (r["n_docs"], r["total_bytes"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {10: (2, 30), 11: (1, 40), 13: (1, 80)}


def test_stream_static_join_filters_blocked_domains(spark, tmp_path):
    """Stream-static join: the static reputation dim is broadcast into
    every micro-batch; blocked domains never reach the sink, known
    domains carry their reputation, unknown domains default — and the
    surviving row set equals the batch equivalent exactly."""
    from cc_extract.corpusgen import corpus_df

    input_dir = str(tmp_path / "in")
    corpus_df(spark, 300, partitions=4).write.parquet(input_dir)

    rep = [("site00.example", "blocked"), ("site27.example", "trusted")]
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = streaming.reputation_filtered_stream(
        spark, input_dir, out_dir, ckpt, rep, max_files=64
    )
    q.awaitTermination(240)
    assert not q.isActive

    got = spark.read.parquet(out_dir)
    by_rep = {r["reputation"]: r["n"] for r in
              got.groupBy("reputation").agg(F.count("*").alias("n")).collect()}
    assert "blocked" not in by_rep
    assert by_rep.get("trusted", 0) > 0 and by_rep.get("unknown", 0) > 0

    src = spark.read.parquet(input_dir).withColumn(
        "domain", F.regexp_extract("url", "//([^/]+)", 1))
    n_blocked = src.filter(F.col("domain") == "site00.example").count()
    assert got.count() == src.count() - n_blocked and n_blocked > 0
    assert got.filter(F.col("domain") == "site00.example").count() == 0
    # trusted rows carry the dim's value
    assert {r["reputation"] for r in
            got.filter(F.col("domain") == "site27.example")
            .select("reputation").distinct().collect()} == {"trusted"}
