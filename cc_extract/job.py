"""The extraction pipeline (SURVEY.md §3.4) — the Spark re-expression of
the reference's whole serverless dataflow (dispatch → per-format extract →
write, [R: functions/simple/main.py ⚠]).

Shuffle accounting — designed for 100 TB of payload, graded at sf-small
(SURVEY.md §4):

    scan (column-pruned: url, warc_ts, html)
      ├─ payloads <= 1 MiB (~99.8% of rows): extract IN scan partitions — no movement
      └─ giants  >  1 MiB: salted repartition      ← the ONLY payload shuffle
      → Arrow pandas-UDF extraction (payload dies here; text is ~5-10x smaller)
      → hash by bucket over min(n_buckets, shuffle partitions)  ← the ONLY text shuffle
      → one stage: keep-newest dedup, a (bucket, url) window, then the
        dynamic-overwrite write partitioned by bucket (one file per bucket)
      → one read-back of the new buckets' (bucket, fmt, status) cells
      → per-bucket manifests + metrics

Three deliberate scale decisions, worth stating because they differ from
the naive port:

1. **Dedup AFTER extraction.**  Deduping first (window over raw rows)
   would shuffle the full payload; extracting the ~2% duplicate rows and
   deduping on their extracted text costs 2% extra UDF cpu and saves an
   entire payload shuffle.  The keep-newest choice orders by
   (warc_ts desc, text_sha256 desc) — the hash is already computed, so no
   extra pass over payload bytes (an xxhash64(html) tie-break would
   re-read all 100 TB).

2. **Salting is size-aware and explicit** [D: BASELINE.json north_star
   "explicit salting for skewed large-PDF partitions"].  AQE's skew
   handling only splits join/shuffle-read stages, not a skewed UDF map
   stage, so giant payloads get a secondary-hash salt in the repartition
   key.  The logical *bucket* (resume/output unit) is untouched — salt
   exists only in the execution partitioning.

3. **Only giants move** in batch: small docs are uniform enough in
   hash-unordered CC inputs that extracting them in scan partitions is
   both shuffle-free and skew-free; the salted repartition applies to the
   >1 MiB tail only.  A stream (cc_extract.streaming) runs the same chain
   in the partitions of its url-hash dedup exchange.  See extract_df.

On real Iceberg, the input would be bucket-transform partitioned by url,
making the resume filter partition pruning; emulation notes in tableio.py.
"""

from __future__ import annotations

import argparse
import os
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from . import manifest as mf
from .tableio import local_files_bytes, write_partitioned

DEFAULT_BUCKETS = 64
DEFAULT_SALT_THRESHOLD = 1 << 20  # 1 MiB giant cut (SURVEY.md §4.3)

EXTRACT_RESULT_SCHEMA = (
    "fmt string, text_out string, status string, error string, extract_ms double"
)

OK_STATUSES = ("ok", "ok_ocr")  # ok_ocr = executed OCR-lite route (X14)

METRICS_SCHEMA = (
    "bucket int, fmt string, status string, n long, bytes_in long"
)

# the extracted-table columns job.run reads back, as pipeline_df writes them
STATS_SCHEMA = (
    "bucket int, fmt string, status string, n_bytes_in int, extract_ms double"
)


def make_extract_udf(pdf_passwords: tuple[str, ...] | None = None):
    """The X1–X17 extractor surface as ONE Arrow-vectorized scalar UDF.

    One UDF (not a per-format ``when`` chain, which would evaluate every
    UDF on every batch; not ``groupBy(fmt).applyInPandas``, which would add
    a payload shuffle and recreate the skew problem) — SURVEY.md §4.2
    "UDF dispatch shape".  Sniffing + dispatch happen per element inside
    the batch; zero per-row Python outside the Arrow boundary
    [D: BASELINE.json north_star "no per-row Python dispatch"].
    """

    @F.pandas_udf(EXTRACT_RESULT_SCHEMA)
    def extract_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
        from time import perf_counter

        from cc_extract.extractors import extract_document

        n = len(html)
        fmts = [None] * n
        texts = [None] * n
        statuses = [None] * n
        errors = [None] * n
        ms = [0.0] * n
        for i, (payload, u) in enumerate(zip(html, url)):
            t0 = perf_counter()
            r = extract_document(payload, u, pdf_passwords=pdf_passwords)
            ms[i] = (perf_counter() - t0) * 1000.0
            fmts[i] = r["fmt"]
            texts[i] = r["text"]
            statuses[i] = r["status"]
            errors[i] = r["error"]
        return pd.DataFrame(
            {"fmt": fmts, "text_out": texts, "status": statuses,
             "error": errors, "extract_ms": ms}
        )

    return extract_udf


def with_bucket(df: DataFrame, n_buckets: int, url_col: str = "url") -> DataFrame:
    """R4 — deterministic content-addressed bucket (resume/output unit)."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")
    )


PACK_SCAN_BYTES = 32 << 20  # min input bytes per scan task worth a Python pass


def pack_scan(df: DataFrame) -> DataFrame:
    """Pack a many-tiny-files scan into fewer tasks before a per-row
    Python/Arrow pass (round 6) — the inverse of textops.fan_out_scan.

    The bench corpus is 128 x ~200 KB files and ``openCostInBytes`` is
    tuned to never merge files (extraction parallelism rides the scan
    for fat payloads), so every corpus-frame pass ran 128 tasks whose
    per-task Arrow/worker round-trip cost more than their ~160 rows of
    work (cc_html_spans measured 1.59 -> 0.74 s with the pass packed to
    defaultParallelism).  Packing is scale-adaptive and a no-op on any
    healthy lake: target = max(defaultParallelism, total_bytes /
    PACK_SCAN_BYTES) — when files average >= 32 MiB (production layout)
    target >= n_files and the scan is returned untouched; only a
    fragmented-small-files input coalesces (no shuffle, same rows).
    job.run's stats read-back is one such input: one small file per
    bucket, 64 one-file splits folded into defaultParallelism tasks."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
        if not files or len(files) <= cores:
            return df
        total = local_files_bytes(files)
        if total is None:
            return df
        target = max(cores, -(-total // PACK_SCAN_BYTES))
        if target >= len(files):
            return df
        return df.coalesce(target)
    except Exception:
        return df


def rows_df(df: DataFrame, keys: tuple[str, ...], args: tuple[str, ...],
            row_fn, ddl: str) -> DataFrame:
    """The one Python row pass of the row operators (the seven
    ``html_*_df``, the multimodal operators, the WARC segment reader
    ``warc.records_df``, and the contract queries that reduce a column
    row by row): per input row, ``row_fn(*args)`` returns None (no
    rows), one dict or an iterable of dicts keyed by the *ddl* columns;
    every output row carries its input row's *keys* columns (types from
    ``df``) ahead of them.  Extra dict keys are ignored, so a row
    function can return its whole normative record.

    Scale shape: ONE Arrow-batched mapInPandas pass over just the
    *keys* and *args* columns; payloads stay in their scan partitions
    and leave the pass as skinny rows.  Filters belong on ``df``, where
    the JVM drops rows before they cross to Python.
    """
    fields = [c.split()[0] for c in ddl.split(",")]
    cols = [*keys, *fields]
    schema = ", ".join(
        [f"{k} {df.schema[k].dataType.simpleString()}" for k in keys] + [ddl])

    def batches(it):
        for pdf in it:
            rows: dict[str, list] = {c: [] for c in cols}
            for key, vals in zip(zip(*(pdf[k] for k in keys)),
                                 zip(*(pdf[a] for a in args))):
                r = row_fn(*vals)
                if r is None:
                    continue
                for d in ([r] if isinstance(r, dict) else r):
                    for k, v in zip(keys, key):
                        rows[k].append(v)
                    for f in fields:
                        rows[f].append(d[f])
            # no rows: skip, a frame of empty lists has float64 columns
            # that Arrow refuses to convert to string
            if rows[cols[0]]:
                yield pd.DataFrame(rows, columns=cols)

    return df.select(*dict.fromkeys((*keys, *args))).mapInPandas(
        batches, schema=schema)


def _html_rows_df(docs: DataFrame, row_fn, ddl: str, rank,
                  order_by: tuple[str, ...]) -> DataFrame:
    """The one body of the ``html_*_df`` operators over a corpus frame
    (url, warc_ts, html): per html-routed document, the rows of
    ``row_fn(payload, url)`` (rows_df; the oracle side,
    cc_extract.oracle_data, builds its table from the same function)
    for the newest crawl of each url.  The row pass REDUCES every page
    to ints, offsets and short strings before the only shuffle, the
    url-hash keep-newest window.

    - *ddl* declares the row columns, after the implicit ``url``.
    - *rank* keeps the newest crawl: ``F.row_number`` for one row per
      document, ``F.dense_rank`` for many (all rows of the newest crawl
      share its ts).
    - *order_by* is the global sort; ``()`` skips it.
    """
    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
    out = (
        rows_df(pack_scan(docs), ("url", "warc_ts"), ("html", "url"),
                row_fn, ddl)
        .withColumn("_rk", rank().over(w))
        .filter(F.col("_rk") == 1)
        .drop("warc_ts", "_rk")
    )
    return out.orderBy(*order_by) if order_by else out


def html_spans_df(docs: DataFrame) -> DataFrame:
    """X1 span provenance — the "spans" half of the north rule's
    per-document match: where in the decoded page the kept main-content
    blocks live (extractors.html.html_span_stats; invariants pinned in
    tests/test_html_spans.py)."""
    from .extractors.html import html_span_stats

    return _html_rows_df(
        docs, html_span_stats,
        "n_blocks int, n_kept int, kept_chars long, span_chars long, "
        "doc_chars long, first_kept_start long, last_kept_end long",
        F.row_number, ("url",))


def html_meta_df(docs: DataFrame) -> DataFrame:
    """Head metadata: title, meta description, og:title, canonical
    link, html lang (extractors.html.html_meta, first occurrence
    wins)."""
    from .extractors.html import html_meta

    return _html_rows_df(
        docs, html_meta,
        "title string, meta_description string, og_title string, "
        "canonical string, lang string",
        F.row_number, ("url",))


def html_robots_df(docs: DataFrame) -> DataFrame:
    """Page-level robots directives: meta-robots noindex/nofollow flags,
    robots-meta count, anchor count and rel=nofollow anchor count
    (extractors.html.html_robots, restrictive union)."""
    from .extractors.html import html_robots

    return _html_rows_df(
        docs, html_robots,
        "noindex boolean, nofollow boolean, n_robots_metas int, "
        "n_anchors int, n_nofollow_anchors int",
        F.row_number, ("url",))


def html_jsonld_df(docs: DataFrame) -> DataFrame:
    """Schema.org JSON-LD: block/valid counts, document-order entity
    types, first Article headline, breadcrumb size
    (extractors.html.html_jsonld)."""
    from .extractors.html import html_jsonld

    return _html_rows_df(
        docs, html_jsonld,
        "ld_blocks int, ld_valid int, ld_types string, "
        "ld_headline string, ld_breadcrumbs int",
        F.row_number, ("url",))


def html_blocks_df(docs: DataFrame, ordered: bool = True) -> DataFrame:
    """Per-BLOCK span rows — the literal per-block "spans match"
    surface: (url, block_idx, span_start, span_end, kept, n_chars,
    text_md5) (extractors.html.html_block_rows).  Aggregate consumers
    (cc_site_templates) pass ``ordered=False``: a range shuffle below a
    groupBy is pure cost."""
    from .extractors.html import html_block_rows

    return _html_rows_df(
        docs, html_block_rows,
        "block_idx int, span_start long, span_end long, kept int, "
        "n_chars long, text_md5 string",
        F.dense_rank, ("url", "block_idx") if ordered else ())


def html_tables_df(docs: DataFrame) -> DataFrame:
    """Structured tables, one row per CELL: (url, table_idx, caption,
    row_idx, col_idx, is_header, cell) (extractors.html.html_tables)."""
    from .extractors.html import html_tables

    return _html_rows_df(
        docs, html_tables,
        "table_idx int, caption string, row_idx int, col_idx int, "
        "is_header int, cell string",
        F.dense_rank, ("url", "table_idx", "row_idx", "col_idx"))


def html_headings_df(docs: DataFrame) -> DataFrame:
    """Document outline, one row per closed h1-h6 heading:
    (url, heading_idx, level, heading) (extractors.html.html_headings)."""
    from .extractors.html import html_headings

    return _html_rows_df(
        docs, html_headings,
        "heading_idx int, level int, heading string",
        F.dense_rank, ("url", "heading_idx"))


def snapshot_diff_df(docs: DataFrame, pivot_ts: str) -> DataFrame:
    """Inter-crawl snapshot diff over a corpus frame — the
    refresh/frontier table a recurring crawl derives before deciding
    what to refetch: split at *pivot_ts*, keep the newest crawl per url
    within each half, report per-domain new / gone / changed / same
    counts (change = payload sha256 differs).  Scale shape: payloads
    collapse to 64-hex digests before any shuffle; two url-partitioned
    window dedups + one url-keyed full-outer sort-merge join (same
    uniform hash key, AQE coalesced) + an O(domains) partial-aggregable
    groupBy."""
    pivot = F.to_timestamp(F.lit(pivot_ts))
    d = pack_scan(docs).select(
        "url", "warc_ts", F.sha2(F.col("html"), 256).alias("sha")
    )
    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"))

    def snap(pred, alias):
        return (
            d.filter(pred)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("url", F.col("sha").alias(alias))
        )

    a = snap(F.col("warc_ts") < pivot, "sha_a")
    b = snap(F.col("warc_ts") >= pivot, "sha_b")
    j = a.join(b, "url", "full_outer")
    both = F.col("sha_a").isNotNull() & F.col("sha_b").isNotNull()
    return (
        j.select(
            F.lower(F.regexp_extract("url", r"^https://([^/:?#]+)", 1))
            .alias("domain"),
            F.col("sha_a").isNull().cast("long").alias("is_new"),
            F.col("sha_b").isNull().cast("long").alias("is_gone"),
            (both & (F.col("sha_a") != F.col("sha_b")))
            .cast("long").alias("is_changed"),
            (both & (F.col("sha_a") == F.col("sha_b")))
            .cast("long").alias("is_same"),
        )
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.sum("is_new").alias("n_new"),
            F.sum("is_gone").alias("n_gone"),
            F.sum("is_changed").alias("n_changed"),
            F.sum("is_same").alias("n_same"),
        )
        .orderBy("domain")
    )


def extract_df(
    docs: DataFrame,
    n_buckets: int,
    skip_buckets: list[int] | None = None,
    pdf_passwords: tuple[str, ...] | None = None,
) -> DataFrame:
    """The extraction chain shared by batch and stream: documents
    (url, warc_ts, html) -> (url, warc_ts, bucket, n_bytes_in, fmt,
    text_out, status, error, extract_ms, text_sha256), one row per
    document with a url.

    Giants (payloads > DEFAULT_SALT_THRESHOLD) must not pile into one
    task just because they share a bucket or a scan split.  How they
    spread follows from ``docs.isStreaming``:

    - batch: payloads <= threshold extract IN the scan partitions — a
      narrow transform, ZERO payload movement for ~99.8% of rows/60% of
      bytes; only the giant tail is repartitioned, by a url-hash salt
      over ``spark.sql.shuffle.partitions`` tasks.  At 100 TB this is
      the difference between shuffling ~100 TB and shuffling only the
      giants — the scan is sequential and cheap, the shuffle is 3x I/O
      plus network.
    - stream: every row extracts in the partitions *docs* arrives in.
      Precondition: a stream frame is already hash-partitioned by url
      or by its canonical form, as cc_extract.streaming's watermark
      dedup leaves it — that exchange spreads the giants, so a salt
      repartition here would move the payload a second time and spread
      nothing new.  The batch split would be a union of two branches
      over one source, which doubles the upstream dedup state and reads
      every micro-batch twice.
    """
    # R1 projection: stale upstream text/lang never read (column pruning
    # reaches the parquet scan — verify via explain: ReadSchema excludes them)
    df = docs.select("url", "warc_ts", "html").filter(F.col("url").isNotNull())
    df = with_bucket(df, n_buckets)
    if skip_buckets:
        # R6 resume: driver-side static predicate, never a join (§4.2)
        df = df.filter(~F.col("bucket").isin([int(b) for b in skip_buckets]))

    # NULL payloads coalesce to size 0 so they stay out of the giant
    # filter and surface as status='error' rows — a NULL n_bytes_in would
    # fail both the <= and > filters and the row would silently vanish,
    # violating the "poison doc -> error row, never disappears" contract.
    df = df.withColumn("n_bytes_in", F.coalesce(F.length("html"), F.lit(0)))

    extract_udf = make_extract_udf(pdf_passwords)

    def run_extract(part: DataFrame) -> DataFrame:
        return part.withColumn("r", extract_udf("html", "url")).select(
            "url", "warc_ts", "bucket", "n_bytes_in", "r.*"
        )

    if docs.isStreaming:
        res = run_extract(df)
    else:
        # R5 salt.  The salt KEYSPACE is fine (16x exec partitions —
        # guide §2.5 wants many more distinct keys than partitions so the
        # hash spreads evenly) but the PARTITION count is n_exec: the
        # giant tail is a small fraction of rows, and more partitions
        # meant a stage of mostly-empty tasks (512 tasks for 34 giants on
        # the bench corpus — ~2 s of pure scheduling).  Per-batch memory
        # is bounded by arrow.maxRecordsPerBatch, not the partition
        # count; production widens the spread through
        # spark.sql.shuffle.partitions.
        n_exec = int(
            docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        salt = F.pmod(F.xxhash64("url", F.lit(1)), F.lit(n_exec * 16))
        size = F.col("n_bytes_in")
        small = df.filter(size <= F.lit(DEFAULT_SALT_THRESHOLD))
        giants = (
            df.filter(size > F.lit(DEFAULT_SALT_THRESHOLD))
            .withColumn("salt", salt.cast("int"))
            .repartition(n_exec, F.col("salt")).drop("salt")
        )
        res = run_extract(small).unionByName(run_extract(giants))
    # JVM-side sha256 of the extracted text (codegen'd; the pytest oracle
    # diffs per-url text hashes [D: BASELINE.json north_star])
    return res.withColumn(
        "text_sha256", F.sha2(F.encode(F.col("text_out"), "UTF-8"), 256)
    )


def by_bucket(res: DataFrame, n_buckets: int) -> DataFrame:
    """The one text shuffle: extracted rows hash-partitioned by bucket
    over ``min(n_buckets, spark.sql.shuffle.partitions)`` tasks.  Every
    bucket lands in exactly one task, so a write partitioned by bucket
    makes one file per bucket.  A task per bucket cost more than it
    wrote: 64 bucket ids hashed into 64 tasks left 26 of them empty."""
    n_exec = int(res.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return res.repartition(min(n_buckets, n_exec), "bucket")


def pipeline_df(
    docs: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    dedup: bool = True,
    skip_buckets: list[int] | None = None,
    pdf_passwords: tuple[str, ...] | None = None,
) -> DataFrame:
    """documents -> extracted (url, warc_ts, bucket, n_bytes_in, fmt,
    text_out, text_sha256, status, error, attempt).  Pure transformation —
    no writes; reused by job, tests, bench and `__spark_entry__`.

    With *dedup* the keep-newest window (partitioned by bucket and url;
    bucket is a function of url, so the groups are the url groups) runs
    on ``by_bucket``'s exchange, in the same stage as job.run's write,
    with no exchange of its own.  Without it the rows stay on their
    extraction partitions."""
    res = extract_df(docs, n_buckets, skip_buckets, pdf_passwords)
    if dedup:
        # R3 keep-newest-crawl per url; deterministic tie-break on the
        # extracted-text hash (§4.3 determinism) — already computed, so no
        # extra pass over payload bytes (xxhash64(html) would re-read 100 TB)
        w = Window.partitionBy("bucket", "url").orderBy(
            F.desc("warc_ts"), F.desc("text_sha256")
        )
        res = (
            by_bucket(res, n_buckets)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    return res.withColumn("attempt", F.lit(1))


def run(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
    dedup: bool = True,
    resume: bool = True,
    input_token: str | None = None,
    pdf_passwords: tuple[str, ...] | None = None,
) -> dict:
    """Execute the pipeline with manifest-checkpointed resume (M1–M4).

    Returns job stats.  Rerun semantics: completed buckets are skipped via
    a static filter; incomplete buckets are dynamically overwritten —
    rerun of a killed job converges to the identical table (M2).

    Resume safety (M4): manifests carry (job_id, snapshot_id).  A resumed
    run REFUSES manifests written under a different config hash (a changed
    n_buckets means completed bucket ids were computed under a different
    modulus — silently mixing them duplicates/drops documents) or a
    different input snapshot (completed buckets would hold stale data).
    ``resume=False`` means a fresh run: prior output/manifests/metrics for
    this out_dir are removed first, so stale partition directories from an
    earlier layout can never linger beside new ones.

    Incremental accounting: stats and the metrics table are computed ONLY
    over the buckets written by THIS run (partition-pruned scan of the new
    ``bucket=`` directories; metrics dynamically overwrite only those
    partitions).  At 10^12 docs a resumed run must not rescan or rewrite
    long-completed buckets.
    """
    t0 = time.time()
    # only settings that change rows; the execution layout is not identity
    config = {"n_buckets": n_buckets, "dedup": dedup}
    if pdf_passwords is not None:
        # part of the job identity: a different candidate list changes
        # which encrypted PDFs extract, so completed buckets don't carry
        # over (the default list is omitted to keep prior job_ids stable)
        config["pdf_passwords"] = list(pdf_passwords)
    jid = mf.job_id(config)
    # input_token: identity of generated/inline inputs (e.g. "n|seed") so
    # M4's resume-refusal can distinguish same-schema inline corpora
    snap = mf.input_snapshot_id(docs, inline_token=input_token)

    if not resume:
        import shutil
        for sub in ("extracted", "metrics", mf.MANIFEST_DIR):
            shutil.rmtree(os.path.join(out_dir, sub), ignore_errors=True)
        done: dict[int, dict] = {}
    else:
        done = mf.completed_buckets(out_dir)
        stale = {
            b: r for b, r in done.items()
            if r.get("job_id") != jid or r.get("snapshot_id", snap) != snap
        }
        if stale:
            b, r = next(iter(stale.items()))
            raise ValueError(
                f"out_dir {out_dir!r} holds manifests from a different "
                f"job/input (bucket {b}: job_id={r.get('job_id')} "
                f"snapshot={r.get('snapshot_id')}; current job_id={jid} "
                f"snapshot={snap}). Use a fresh out_dir or resume=False."
            )
    skip = sorted(done)
    if len(skip) >= n_buckets:
        return {"job_id": jid, "snapshot_id": snap, "skipped": True,
                "buckets_done": len(skip), "wall_ms": 0, "n_docs": 0}

    res = pipeline_df(
        docs, n_buckets=n_buckets, dedup=dedup, skip_buckets=skip,
        pdf_passwords=pdf_passwords,
    )
    # the dedup already hashed the rows by bucket
    final = res if dedup else by_bucket(res, n_buckets)
    write_partitioned(final, os.path.join(out_dir, "extracted"), "bucket")

    # M1/M3: ONE read-back of the table just written, over ONLY the
    # buckets this run wrote — the static ~isin predicate prunes
    # completed bucket= directories at the scan, and the projection
    # never touches text.  The schema is the one just written, so no
    # job infers it, and pack_scan folds the one-file-per-bucket splits
    # into a few tasks.  The per-(bucket, fmt, status) cells are
    # O(buckets x formats) rows; manifests and metrics both derive from
    # them on the driver.
    out = spark.read.schema(STATS_SCHEMA).parquet(
        os.path.join(out_dir, "extracted"))
    fresh = out.filter(~F.col("bucket").isin(skip)) if skip else out
    cells = sorted(
        ((int(r["bucket"]), r["fmt"], r["status"], int(r["n"]),
          int(r["bytes_in"] or 0), float(r["extract_ms"] or 0.0))
         for r in pack_scan(fresh).groupBy("bucket", "fmt", "status").agg(
             F.count("*").alias("n"),
             F.sum("n_bytes_in").alias("bytes_in"),
             F.sum("extract_ms").alias("extract_ms"),
         ).collect()),
        key=lambda c: c[0],
    )
    # every bucket this run was responsible for completes, also one
    # with zero documents (else every rerun re-pays its scan)
    stats = {b: {"n_docs": 0, "n_ok": 0, "n_fail": 0, "bytes_in": 0,
                 "extract_ms": 0.0}
             for b in range(n_buckets) if b not in done}
    for bucket, _fmt, status, n, bytes_in, ms in cells:
        s = stats[bucket]
        s["n_docs"] += n
        s["n_ok"] += n if status in OK_STATUSES else 0
        s["n_fail"] += n if status == "error" else 0
        s["bytes_in"] += bytes_in
        s["extract_ms"] += ms

    # M3 failure metrics: the per-(bucket, fmt, status) counters of the
    # new buckets; dynamic partition overwrite leaves completed buckets'
    # metric files byte-untouched.  Sorted cells split into contiguous
    # bucket ranges, one per local scan task.  Written BEFORE the
    # manifests, so a bucket's manifest stays the last word on it: a kill
    # before or during this write leaves no manifest, and the resume
    # redoes the bucket and its metrics.
    metrics = spark.createDataFrame(
        [c[:5] for c in cells], METRICS_SCHEMA)
    write_partitioned(metrics, os.path.join(out_dir, "metrics"), "bucket")

    wall_ms = int((time.time() - t0) * 1000)
    for b, s in stats.items():
        mf.write_bucket_manifest(out_dir, {
            "bucket": b, **s,
            # per-bucket cost is the summed in-UDF extraction time (real,
            # measured per row); wall_ms stays job-level and says so
            "extract_ms": round(s["extract_ms"], 3),
            "wall_ms": wall_ms, "job_id": jid, "snapshot_id": snap,
        })
    new_buckets = n_buckets - len(skip)

    total = sum(s["n_docs"] for s in stats.values())
    return {
        "job_id": jid, "snapshot_id": snap, "skipped": False,
        "wall_ms": wall_ms, "n_docs": total, "buckets_new": new_buckets,
        "buckets_done": len(skip) + new_buckets,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description="cc_extract pipeline")
    ap.add_argument("--input", help="parquet path of the documents table "
                    "(default: synthetic corpus)")
    ap.add_argument("--input-warc", help="directory/glob of .warc.gz "
                    "segment files to ingest instead of a table "
                    "(cc_extract/warc.py reader)")
    ap.add_argument("--n-docs", type=int, default=2000,
                    help="synthetic corpus size when no --input")
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=DEFAULT_BUCKETS)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--no-dedup", action="store_true")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--pdf-passwords", default=None,
                    help="comma-separated candidate passwords for "
                         "encrypted PDFs (default: the built-in "
                         "curation sidecar list)")
    args = ap.parse_args()

    from .session import build_session

    spark = build_session(cpus=args.cpus, app_name="cc_extract.job")
    spark.sparkContext.setLogLevel("WARN")
    try:
        token = None
        if args.input_warc:
            from .warc import read_warc_dir
            docs = read_warc_dir(spark, args.input_warc)
            token = f"warc|{args.input_warc}"
        elif args.input:
            docs = spark.read.parquet(args.input)
        else:
            from .corpusgen import corpus_df
            docs = corpus_df(spark, args.n_docs, seed=args.seed)
            token = f"{args.n_docs}|{args.seed}"
        pdf_pw = (tuple(args.pdf_passwords.split(","))
                  if args.pdf_passwords is not None else None)
        stats = run(
            spark, docs, args.out, n_buckets=args.buckets,
            dedup=not args.no_dedup, resume=not args.no_resume,
            input_token=token, pdf_passwords=pdf_pw,
        )
        print(f"job stats: {stats}")
        if not stats["skipped"]:
            out = spark.read.parquet(os.path.join(args.out, "extracted"))
            out.groupBy("fmt", "status").count().orderBy(F.desc("count")).show(30)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
