"""Pipeline-behavior tests (SURVEY.md §5.3 step 2, §5.4):
byte-identity vs the checked-in golden, idempotent resume, skew salting
(both directions), dedup invariance, and a shuffle-count plan guard."""

from __future__ import annotations

import csv
import glob
import gzip
import os
import re

import pytest
from pyspark.sql import functions as F

from cc_extract import job as J
from cc_extract import manifest as mf
from cc_extract.corpusgen import corpus_df
from tests.plan_check import (
    exchange_arguments, exchange_below, formatted_plan, payload_exchanges)

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "golden_20000.csv.gz")


def _golden_rows() -> dict[str, tuple[str, str]]:
    with gzip.open(GOLDEN, "rt") as f:
        r = csv.reader(f)
        next(r)
        return {url: (sha, status) for url, sha, status in r}


# --------------------------------------------------- byte-identity oracle

def test_e2e_byte_identity_vs_golden(spark, tmp_path):
    """THE invariant [D: BASELINE.json north_rule]: per-url extracted text
    sha256 from the Spark pipeline == single-process golden, 100% match."""
    docs = corpus_df(spark, 20_000, partitions=8)
    stats = J.run(spark, docs, str(tmp_path), n_buckets=16, resume=False)
    golden = _golden_rows()
    # > 20,000: decorated dup urls are raw-DISTINCT (keep-newest dedup on
    # the raw url keeps both by design — cc_url_canonical surfaces them)
    assert stats["n_docs"] == len(golden) > 20_000

    out = (
        spark.read.parquet(str(tmp_path / "extracted"))
        .select("url", "text_sha256", "status")
        .collect()
    )
    assert len(out) == len(golden)
    mismatch = [
        (r["url"], r["text_sha256"], golden.get(r["url"]))
        for r in out
        if golden.get(r["url"]) != (r["text_sha256"], r["status"])
    ]
    assert not mismatch, f"{len(mismatch)} mismatches, first: {mismatch[:3]}"


# ------------------------------------------------------------ resume (M2)

def test_resume_is_idempotent_and_minimal(spark, tmp_path):
    docs = corpus_df(spark, 800, partitions=4)
    out_dir = str(tmp_path / "run")
    J.run(spark, docs, out_dir, n_buckets=8, resume=False)

    full = {
        (r["url"], r["text_sha256"])
        for r in spark.read.parquet(out_dir + "/extracted")
        .select("url", "text_sha256").collect()
    }

    # simulate a kill after 5 of 8 buckets: drop 3 manifests + their data
    for b in (1, 3, 5):
        os.remove(os.path.join(out_dir, "manifest", f"bucket_{b:06d}.json"))
        for p in glob.glob(os.path.join(out_dir, "extracted", f"bucket={b}", "*")):
            os.remove(p)

    untouched = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(out_dir, "extracted", "bucket=*", "*.parquet"))
    }
    # completed buckets' METRICS files must also survive a resume
    # byte-untouched — the resumed run may only compute/write metrics for
    # the buckets it actually re-ran (incremental accounting)
    untouched_metrics = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(out_dir, "metrics", "bucket=*", "*.parquet"))
        if not any(f"bucket={b}/" in p or f"bucket={b}{os.sep}" in p for b in (1, 3, 5))
    }
    assert untouched_metrics
    stats = J.run(spark, docs, out_dir, n_buckets=8, resume=True)
    assert stats["buckets_new"] == 3

    for p, mtime in untouched.items():
        assert os.path.getmtime(p) == mtime, f"completed bucket rewritten: {p}"
    for p, mtime in untouched_metrics.items():
        assert os.path.getmtime(p) == mtime, f"completed bucket metrics rewritten: {p}"

    after = {
        (r["url"], r["text_sha256"])
        for r in spark.read.parquet(out_dir + "/extracted")
        .select("url", "text_sha256").collect()
    }
    assert after == full

    # third run: everything complete -> no-op
    stats = J.run(spark, docs, out_dir, n_buckets=8, resume=True)
    assert stats["skipped"] is True


def test_resume_repairs_a_kill_before_the_metrics(spark, tmp_path, monkeypatch):
    """A run killed at its metrics write has written no manifest, so a
    resume redoes every bucket and writes their metrics: the manifest is
    the last word on a bucket."""
    docs = corpus_df(spark, 200, partitions=2)
    out_dir = str(tmp_path / "run")
    write = J.write_partitioned

    def killed_at_metrics(df, path, partition_col="bucket"):
        if os.path.basename(path) == "metrics":
            raise RuntimeError("killed at the metrics write")
        write(df, path, partition_col)

    with monkeypatch.context() as m:
        m.setattr(J, "write_partitioned", killed_at_metrics)
        with pytest.raises(RuntimeError, match="killed at the metrics"):
            J.run(spark, docs, out_dir, n_buckets=8, resume=False)
    stats = J.run(spark, docs, out_dir, n_buckets=8, resume=True)
    assert stats["skipped"] is False and stats["buckets_new"] == 8

    ext = spark.read.parquet(os.path.join(out_dir, "extracted"))
    want = ext.groupBy("bucket", "fmt", "status").agg(
        F.count("*").alias("n"), F.sum("n_bytes_in").alias("bytes_in"))
    got = spark.read.parquet(os.path.join(out_dir, "metrics")).select(
        *want.columns)
    assert sorted(got.collect()) == sorted(want.collect())
    assert sorted(mf.completed_buckets(out_dir)) == list(range(8))


def test_resume_refuses_mismatched_config(spark, tmp_path):
    """A rerun into the same out_dir with a different n_buckets would skip
    bucket ids computed under a different modulus — the job must refuse,
    not silently mix layouts."""
    docs = corpus_df(spark, 200, partitions=2)
    out_dir = str(tmp_path / "run")
    J.run(spark, docs, out_dir, n_buckets=8, resume=False)
    with pytest.raises(ValueError, match="different job"):
        J.run(spark, docs, out_dir, n_buckets=4, resume=True)


def test_metrics_and_manifests_match_extracted(spark, tmp_path):
    """M1/M3: the metrics table holds exactly a per-(bucket, fmt, status)
    groupBy over the extracted table, and each bucket's manifest holds
    that bucket's counts and sums — both derived from one read-back."""
    docs = corpus_df(spark, 400, partitions=4)
    out_dir = str(tmp_path / "run")
    J.run(spark, docs, out_dir, n_buckets=8, resume=False)
    ext = spark.read.parquet(os.path.join(out_dir, "extracted"))

    want = ext.groupBy("bucket", "fmt", "status").agg(
        F.count("*").alias("n"), F.sum("n_bytes_in").alias("bytes_in"))
    got = spark.read.parquet(os.path.join(out_dir, "metrics")).select(
        *want.columns)
    assert got.dtypes == want.dtypes
    assert sorted(got.collect()) == sorted(want.collect())

    ok = F.col("status").isin(*J.OK_STATUSES).cast("int")
    per_bucket = ext.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum(ok).alias("n_ok"),
        F.sum((F.col("status") == "error").cast("int")).alias("n_fail"),
        F.sum("n_bytes_in").alias("bytes_in"),
        F.sum("extract_ms").alias("extract_ms"),
    ).collect()
    manifests = mf.completed_buckets(out_dir)
    assert sorted(manifests) == list(range(8))
    assert sum(m["n_docs"] for m in manifests.values()) == ext.count()
    for r in per_bucket:
        m = manifests[r["bucket"]]
        for k in ("n_docs", "n_ok", "n_fail", "bytes_in"):
            assert m[k] == r[k], (r["bucket"], k)
        assert m["extract_ms"] == pytest.approx(r["extract_ms"], abs=1e-2)


def test_manifest_carries_input_snapshot_lineage(spark, tmp_path):
    """M4: manifests from two different input versions carry different
    snapshot ids, and resuming over a changed input refuses."""
    p = str(tmp_path / "docs_v1")
    corpus_df(spark, 150, partitions=2).write.parquet(p)
    docs_v1 = spark.read.parquet(p)
    out1 = str(tmp_path / "out1")
    s1 = J.run(spark, docs_v1, out1, n_buckets=4, resume=False)

    p2 = str(tmp_path / "docs_v2")
    corpus_df(spark, 151, partitions=2).write.parquet(p2)
    docs_v2 = spark.read.parquet(p2)
    out2 = str(tmp_path / "out2")
    s2 = J.run(spark, docs_v2, out2, n_buckets=4, resume=False)

    assert s1["snapshot_id"] != s2["snapshot_id"]
    m1 = mf.completed_buckets(out1)
    assert all(r["snapshot_id"] == s1["snapshot_id"] for r in m1.values())

    # resuming out1 against the v2 input must refuse (stale completed data)
    with pytest.raises(ValueError, match="different job"):
        J.run(spark, docs_v2, out1, n_buckets=4, resume=True)


def test_input_snapshot_id_sizes_percent_encoded_paths(spark, tmp_path):
    """M4 over a directory whose URI is percent-encoded (a space is
    ``%20``): replacing a file with a same-named one of another size must
    change the snapshot id, so the file sizes really enter the hash."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "dir with space"
    d.mkdir()
    f = str(d / "part-0.parquet")
    pq.write_table(pa.table({"url": ["https://s.example/a"]}), f)
    before = mf.input_snapshot_id(spark.read.parquet(str(d)))
    pq.write_table(pa.table({"url": [f"https://s.example/{i}"
                                     for i in range(500)]}), f)
    after = mf.input_snapshot_id(spark.read.parquet(str(d)))
    assert before != after


def test_null_payload_rows_become_error_rows(spark):
    """The poison-doc contract: a NULL payload may never disappear — it
    must surface as a status='error' row."""
    import datetime as dt

    rows = [
        ("https://n.example/null", dt.datetime(2025, 1, 1), None),
        ("https://n.example/ok", dt.datetime(2025, 1, 1), bytearray(b"plain text doc")),
    ]
    docs = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
    got = {
        r["url"]: (r["status"], r["error"])
        for r in J.pipeline_df(docs, n_buckets=4)
        .select("url", "status", "error").collect()
    }
    assert got["https://n.example/null"] == ("error", "empty payload")
    assert got["https://n.example/ok"][0] == "ok"


def test_salting_spreads_giants(spark):
    """§5.4 for the shipped plan: with every row in ONE logical bucket,
    the giants must still land on multiple execution partitions via the
    url-hash salt (without it, they extract in the one scan partition
    that holds them)."""
    big = b"%PDF" + b"\x00" * (2 << 20)
    rows = [(f"https://fs.example/big{i}", bytearray(big)) for i in range(16)]
    rows += [(f"https://fs.example/s{i}", bytearray(b"tiny doc " * 10)) for i in range(200)]
    docs = spark.createDataFrame(rows, "url string, html binary")

    res = J.pipeline_df(
        docs.withColumn("warc_ts", F.lit(None).cast("timestamp")),
        n_buckets=1,  # worst case: one logical bucket holds all giants
        dedup=False,  # keep the post-UDF rows on their execution partitions
    )
    giant_pids = (
        res.withColumn("pid", F.spark_partition_id())
        .filter(F.col("n_bytes_in") > 1 << 20)
        .select("pid").distinct().count()
    )
    assert giant_pids >= 4, f"salt did not spread giants: {giant_pids} partitions"


# ------------------------------------------------------------- skew (R5)

def _partition_loads(spark, df, n_parts: int, with_salt: bool):
    """max/median byte load over execution partitions for the given plan."""
    cols = [F.col("bucket"), F.col("salt") if with_salt else F.lit(0)]
    parts = (
        df.repartition(n_parts, *cols)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid").agg(F.sum("n_bytes_in").alias("b"))
        .collect()
    )
    loads = sorted(r["b"] for r in parts)
    return loads[-1], loads[len(loads) // 2]


def test_salting_spreads_large_doc_skew(spark):
    """§5.4: the max/median partition-byte ratio must improve with salting
    on a corpus whose giants all hash to one bucket — and the test guards
    the mechanism by asserting it's bad WITHOUT salting."""
    big = b"%PDF" + b"\x00" * (2 << 20)
    rows = [(f"https://skew.example/big{i}", bytearray(big)) for i in range(16)]
    rows += [(f"https://skew.example/s{i}", bytearray(b"tiny doc " * 10)) for i in range(400)]
    docs = spark.createDataFrame(rows, "url string, html binary")

    df = docs.withColumn("n_bytes_in", F.length("html"))
    # force all big docs into ONE logical bucket (worst case)
    df = df.withColumn(
        "bucket",
        F.when(F.col("n_bytes_in") > 1 << 20, F.lit(7))
        .otherwise(F.pmod(F.xxhash64("url"), F.lit(8)).cast("int")),
    )
    # salt space ~= execution partitions so E[giants/partition] ~ 1
    df = df.withColumn(
        "salt",
        F.when(F.col("n_bytes_in") > 1 << 20,
               F.pmod(F.xxhash64("url", F.lit(1)), F.lit(32)))
        .otherwise(F.lit(0)).cast("int"),
    ).cache()

    max_u, med_u = _partition_loads(spark, df, 32, with_salt=False)
    max_s, med_s = _partition_loads(spark, df, 32, with_salt=True)
    df.unpersist()

    ratio_unsalted = max_u / max(med_u, 1)
    ratio_salted = max_s / max(med_s, 1)
    # unsalted: one partition carries all 16 giants -> pathological
    assert ratio_unsalted > 50, f"skew fixture not skewed: {ratio_unsalted}"
    # salted: giants spread across up to 8 (bucket,salt) combos
    assert max_s <= max_u / 3, f"salting didn't spread: {max_s} vs {max_u}"


# ---------------------------------------------------------- dedup (R3)

def test_dedup_keeps_newest_crawl(spark, tmp_path):
    import datetime as dt

    rows = [
        ("https://d.example/a", dt.datetime(2025, 1, 1), bytearray(b"old text")),
        ("https://d.example/a", dt.datetime(2025, 6, 1), bytearray(b"new text")),
        ("https://d.example/b", dt.datetime(2025, 3, 1), bytearray(b"only")),
    ]
    docs = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
    res = J.pipeline_df(docs, n_buckets=4).select("url", "text_out").collect()
    got = {r["url"]: r["text_out"] for r in res}
    assert got == {"https://d.example/a": "new text", "https://d.example/b": "only"}


# -------------------------------------------------- plan guard (scale)

def test_only_one_payload_shuffle(spark, tmp_path):
    """Scale guard (SURVEY.md §4): exactly one Exchange may carry the
    ``html`` payload column, for a table input and for a WARC segment
    input.  A second payload shuffle is a 100 TB regression even if
    correctness stays green."""
    from cc_extract import warc as W
    from cc_extract.corpusgen import gen_corpus

    docs = corpus_df(spark, 100, partitions=2)
    plan = formatted_plan(J.pipeline_df(docs, n_buckets=8))
    assert payload_exchanges(plan) == 1, (
        f"expected exactly 1 payload shuffle, plan:\n{plan}")
    # stale upstream columns must be pruned at the scan (R1)
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    if m:  # corpus_df path has no parquet scan; guard applies to parquet inputs
        assert "text" not in m.group(1)

    recs = [(r["url"], r["warc_ts"], r["html"]) for r in gen_corpus(40)]
    with open(tmp_path / "seg0.warc.gz", "wb") as f:
        f.write(W.write_warc_gz(recs, segment="seg0"))
    warc_docs = W.read_warc_dir(spark, str(tmp_path))
    plan = formatted_plan(J.pipeline_df(warc_docs, n_buckets=8))
    assert payload_exchanges(plan) == 1, (
        f"expected exactly 1 payload shuffle, plan:\n{plan}")


def test_dedup_rides_the_bucket_exchange(spark, tmp_path):
    """One text shuffle: the keep-newest window sits on the one Exchange
    that hashes by ``bucket`` (the exchange the partitioned write needs
    for one file per bucket), and no Exchange hashes on ``url``, for a
    table input and for a WARC segment input."""
    from cc_extract import warc as W
    from cc_extract.corpusgen import gen_corpus

    recs = [(r["url"], r["warc_ts"], r["html"]) for r in gen_corpus(40)]
    with open(tmp_path / "seg0.warc.gz", "wb") as f:
        f.write(W.write_warc_gz(recs, segment="seg0"))
    for docs in (corpus_df(spark, 100, partitions=2),
                 W.read_warc_dir(spark, str(tmp_path))):
        plan = formatted_plan(J.pipeline_df(docs, n_buckets=8))
        args = exchange_arguments(plan)
        by_bucket = [i for i, a in args.items()
                     if a.startswith("hashpartitioning(bucket#")]
        assert len(by_bucket) == 1, plan
        assert not any(a.startswith("hashpartitioning(url#")
                       for a in args.values()), plan
        assert exchange_below(plan, "Window") == by_bucket[0], plan


def test_run_is_six_jobs_with_one_file_per_bucket(spark, tmp_path):
    """job.run over a WARC input is 6 Spark jobs: the giants and UDF map
    stages, the dedup-and-write stage, the stats read-back's map and
    result stages, and the metrics write.  No job lists the bucket=
    directories or infers the written schema, and each bucket= directory
    holds one file."""
    from cc_extract import warc as W
    from cc_extract.corpusgen import gen_corpus

    assert spark.conf.get("spark.sql.shuffle.partitions") == "16"
    rows = gen_corpus(200)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for k in range(2):
        recs = [(r["url"], r["warc_ts"], r["html"]) for r in rows[k::2]]
        with open(in_dir / f"seg{k}.warc.gz", "wb") as f:
            f.write(W.write_warc_gz(recs, segment=f"seg{k}"))
    docs = W.read_warc_dir(spark, str(in_dir))
    out_dir = str(tmp_path / "out")
    sc = spark.sparkContext
    group = f"job-run-{tmp_path.name}"
    sc.setJobGroup(group, "job.run")
    try:
        J.run(spark, docs, out_dir, n_buckets=64, resume=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker learns of jobs through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 6, sorted(jobs)

    dirs = glob.glob(os.path.join(out_dir, "extracted", "bucket=*"))
    assert len(dirs) > 32
    for d in dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d


def test_pruned_scan_on_parquet_input(spark, tmp_path):
    """Column pruning must reach the parquet scan: the pipeline never
    reads the stale upstream text/lang columns."""
    p = str(tmp_path / "docs.parquet")
    corpus_df(spark, 200, partitions=2).write.parquet(p)
    docs = spark.read.parquet(p)
    plan = formatted_plan(J.pipeline_df(docs, n_buckets=8))
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m, plan
    assert "html" in m.group(1)
    assert "lang" not in m.group(1), m.group(1)


def test_script_id_ladder_matches_python_reference(spark):
    """script_id_col (the cc_script_stats classifier) against an
    independent pure-Python transcription of the spec: explicit BMP
    ranges, >=5-char threshold, ladder order kana>hangul>han>cyrillic>
    greek, latin fallthrough — including mixed-script and
    just-below-threshold boundary cases."""
    from cc_extract.textops import (
        SCRIPT_LADDER, SCRIPT_MIN_CHARS, SCRIPT_RANGES, script_id_col,
    )
    import pyspark.sql.functions as F

    ranges = {
        s: (int(lo[2:], 16), int(hi[2:], 16))
        for s, (lo, hi) in SCRIPT_RANGES.items()
    }

    def ref(text: str) -> str:
        for s in SCRIPT_LADDER:
            lo, hi = ranges[s]
            if sum(1 for ch in text if lo <= ord(ch) <= hi) >= SCRIPT_MIN_CHARS:
                return s
        return "latin"

    cases = [
        "plain english text only",
        "データ処理の分散計算",            # kana + han, kana wins
        "漢字漢字漢字漢字漢字",            # han only
        "한국어 데이터 처리 분석",          # hangul
        "данные обработка запрос",        # cyrillic
        "δεδομένα επεξεργασία",           # greek
        "数据处理",                        # 4 han chars: below threshold -> latin
        "mixed 漢字漢字漢字漢字漢字 and данные обработка таблица",  # han>=5 beats cyrillic in ladder
        "",
        "ασδφ",                           # 4 greek: below threshold
        "カタカナ五文字です漢字漢字漢字漢字漢字",  # both >=5, kana first in ladder
    ]
    df = spark.createDataFrame([(c,) for c in cases], "text_out string")
    got = {
        r["text_out"]: r["script"]
        for r in df.select("text_out", script_id_col("text_out").alias("script")).collect()
    }
    for c in cases:
        assert got[c] == ref(c), (c, got[c], ref(c))


def test_url_canonicalization_inverts_decoration(spark):
    """canonical(decorate(base)) spec, engine-side: tracking-only
    decorations canonicalize back to base EXACTLY (the collapse-pair
    guarantee gen_doc's dup branch relies on); general decorations keep
    only sorted real params; canonicalization is idempotent."""
    import random as _random

    import pyspark.sql.functions as F
    from cc_extract.corpusgen import _decorate_url
    from cc_extract.textops import url_canonical_col

    bases = [f"https://site{i:02d}.example/doc{i:08d}.html" for i in range(40)]
    rows = []
    for i, base in enumerate(bases):
        rng = _random.Random(i * 7919)
        rows.append((base, _decorate_url(base, rng, tracking_only=True), "t"))
        rows.append((base, _decorate_url(base, rng), "g"))
    df = spark.createDataFrame(rows, "base string, url string, kind string")
    out = df.select(
        "base", "kind", "url",
        url_canonical_col("url").alias("canon"),
    ).collect()
    import re as _re
    for r in out:
        if r["kind"] == "t":
            assert r["canon"] == r["base"], (r["url"], r["canon"])
        else:
            # general: base plus (optionally) a sorted real-param query
            m = _re.fullmatch(_re.escape(r["base"]) + r"(\?(.*))?", r["canon"])
            assert m, (r["url"], r["canon"])
            if m.group(2):
                parts = m.group(2).split("&")
                assert parts == sorted(parts)
                assert all(p.split("=")[0] in ("page", "ref", "v") for p in parts)
    # idempotence
    again = (
        spark.createDataFrame([(r["canon"],) for r in out], "url string")
        .select("url", url_canonical_col("url").alias("c2"))
        .collect()
    )
    for r in again:
        assert r["c2"] == r["url"]


def test_bpe_merge_learn_matches_python_reference(spark, tmp_path):
    """bpe_merge_learn against an independent transcription of Sennrich
    et al.'s learn loop (count pairs over a word-frequency dict, merge
    the argmax everywhere, repeat) — run on a corpus crafted so ties and
    re-merge chains ('aaaa' -> aa,aa; merged symbols as left sides) are
    exercised.  The Spark/DuckDB pair share the fold formulation; this
    reference shares nothing but the published algorithm."""
    from cc_extract.textops import BPE_EOW, bpe_merge_learn

    texts = [
        "banana banana bandana",
        "aaaa aaa aa banana",
        "abab abab baba",
        "the cat and the hat band",
        "banana band bandana the the",
    ]

    def ref_merges(texts, k):
        import re
        from collections import Counter

        wf = Counter()
        for t in texts:
            for w in re.findall("[a-z0-9]+", t.lower()):
                wf[w] += 1
        vocab = {w: tuple(list(w) + [BPE_EOW]) for w in wf}
        out = []
        for rank in range(1, k + 1):
            pc = Counter()
            for w, syms in vocab.items():
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += wf[w]
            if not pc:
                break
            best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            (l, r), c = best
            out.append((rank, l, r, l + r, c))
            for w, syms in vocab.items():
                new, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        new.append(l + r)
                        i += 2
                    else:
                        new.append(syms[i])
                        i += 1
                vocab[w] = tuple(new)
        return out

    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    ).write.parquet(str(sf / "documents.parquet"))

    got = [
        (r["merge_rank"], r["lhs"], r["rhs"], r["merged"], r["pair_freq"])
        for r in bpe_merge_learn(spark, str(sf), k=6).collect()
    ]
    assert got == ref_merges(texts, 6), got


def test_duplicate_spans_interval_union(spark, tmp_path):
    """Exact-substring dedup on a hand-built corpus: doc 0 and doc 1
    share a 10-token span (k=8 -> 3 duplicated windows each, overlapping
    starts p, p+1, p+2 -> union = 8+1+1 = 10 covered tokens); doc 2
    shares nothing.  Within-doc: doc 3 repeats one 8-token run twice
    back-to-back -> both occurrences count as duplicated."""
    from cc_extract.textops import duplicate_spans

    span = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    texts = [
        f"one two three {span} uniq0a uniq0b uniq0c",
        f"{span} uniq1a uniq1b uniq1c uniq1d uniq1e uniq1f",
        "kilo lima mike november oscar papa quebec romeo sierra tango",
        "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8",
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    ).write.parquet(str(sf / "documents.parquet"))

    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_frac"])
        for r in duplicate_spans(spark, str(sf)).collect()
    }
    assert got[0] == (16, 10, 0.625)
    assert got[1] == (16, 10, 0.625)
    assert got[2] == (10, 0, 0.0)
    # doc 3: every 8-window of "r1..r8 r1..r8" — the repeated-run windows
    # p=1 and p=9 are identical, and every intermediate rotation window
    # appears only once; duplicated starts {1, 9} cover 8 + 8 = 16 tokens
    assert got[3] == (16, 16, 1.0)


def test_chunk_stats_geometry_and_content(spark, tmp_path):
    """Context-window chunking on a hand-built corpus: a 300-token doc at
    CHUNK_TOKENS=128 / CHUNK_STRIDE=96 yields starts 0/96/192/288 with
    lengths 128/128/108/12 (short tail kept); consecutive chunks overlap
    by 32 tokens; chunk_md5 pins the exact token window (verified against
    an independent hashlib computation); an empty doc yields no chunks
    and a 1-token doc yields exactly one."""
    import hashlib

    from cc_extract.textops import CHUNK_STRIDE, CHUNK_TOKENS, chunk_stats

    assert (CHUNK_TOKENS, CHUNK_STRIDE) == (128, 96)
    toks = [f"w{i}" for i in range(300)]
    texts = [" ".join(toks), "", "solo"]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    ).write.parquet(str(sf / "documents.parquet"))

    rows = chunk_stats(spark, str(sf)).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 1 not in by_doc  # empty doc: no chunks
    assert [(r["chunk_idx"], r["start_tok"], r["n_tokens"])
            for r in sorted(by_doc[0], key=lambda r: r["chunk_idx"])] == [
        (0, 0, 128), (1, 96, 128), (2, 192, 108), (3, 288, 12)]
    assert [(r["chunk_idx"], r["start_tok"], r["n_tokens"])
            for r in by_doc[2]] == [(0, 0, 1)]

    def md5_of(start):
        window = toks[start:start + CHUNK_TOKENS]
        return hashlib.md5(" ".join(window).encode()).hexdigest()

    got = {r["start_tok"]: r["chunk_md5"] for r in by_doc[0]}
    assert got == {s: md5_of(s) for s in (0, 96, 192, 288)}
    assert by_doc[2][0]["chunk_md5"] == hashlib.md5(b"solo").hexdigest()


def test_sequence_pack_straddles_and_per_source_offsets(spark, tmp_path):
    """Concat-and-split packing on a hand-built corpus (SEQ_LEN=2048):
    within source a, docs of 1000/1500/100 tokens place at cumulative
    offsets 0/1000/2500 — the second doc straddles the seq 0/1 boundary
    (spans 2), the third starts at offset 452 of seq 1; source b's
    running offset is independent; a zero-token doc emits no row and
    shifts nothing."""
    from cc_extract.textops import SEQ_LEN, sequence_pack

    assert SEQ_LEN == 2048
    rows_in = [
        (0, " ".join(["x"] * 1000), "en", "a"),
        (1, "!!! ... ???", "en", "a"),           # zero tokens: no row
        (2, " ".join(["y"] * 1500), "en", "a"),
        (3, " ".join(["z"] * 100), "en", "a"),
        (4, " ".join(["q"] * 3000), "en", "b"),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows_in, "doc_id long, text string, lang string, source string",
    ).write.parquet(str(sf / "documents.parquet"))

    got = {
        r["doc_id"]: (r["cum_before"], r["seq_start"], r["seq_end"],
                      r["seq_offset"], r["n_seqs_spanned"])
        for r in sequence_pack(spark, str(sf)).collect()
    }
    assert 1 not in got and len(got) == 4
    assert got[0] == (0, 0, 0, 0, 1)
    assert got[2] == (1000, 0, 1, 1000, 2)      # straddles 2048
    assert got[3] == (2500, 1, 1, 452, 1)
    assert got[4] == (0, 0, 1, 0, 2)            # source b independent


def test_span_dedup_rewrite_keeps_canonical_occurrence(spark, tmp_path):
    """The rewrite consumer on the same hand-built corpus as the
    accounting test above: the CANONICAL (lexicographic-min (doc_id, p))
    occurrence of each duplicated window survives, every other occurrence
    is removed, and the md5 pins the exact rewritten token string."""
    import hashlib

    from cc_extract.textops import span_dedup_rewrite

    span = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    texts = [
        f"one two three {span} uniq0a uniq0b uniq0c",
        f"{span} uniq1a uniq1b uniq1c uniq1d uniq1e uniq1f",
        "kilo lima mike november oscar papa quebec romeo sierra tango",
        "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8",
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    ).write.parquet(str(sf / "documents.parquet"))

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["kept_frac"],
                      r["kept_text_md5"])
        for r in span_dedup_rewrite(spark, str(sf)).collect()
    }
    # doc 0 holds the canonical occurrence of all three shared windows:
    # nothing removed, rewritten text == original token string
    assert got[0] == (16, 0, 1.0, md5(texts[0]))
    # doc 1's copy is non-canonical: the 10 shared tokens go
    assert got[1] == (16, 10, 0.375,
                      md5("uniq1a uniq1b uniq1c uniq1d uniq1e uniq1f"))
    # doc 2 shares nothing
    assert got[2] == (10, 0, 1.0, md5(texts[2]))
    # doc 3's within-doc repeat: second run (p=9..16) removed, first kept
    assert got[3] == (16, 8, 0.5, md5("r1 r2 r3 r4 r5 r6 r7 r8"))


def test_robots_parser_grammar(spark):
    """The in-row robots.txt fold against a hand-written body exercising
    every pinned grammar rule — cross-checked against the independent
    Python transcription the oracle uses (precedence is pinned e2e by the
    cc_robots_filter contract query, whose corpus emits equal-length
    Allow/Disallow ties)."""
    import __spark_entry__ as entry_mod
    from cc_extract.oracle_data import _parse_robots_rules

    body = (
        "# header comment\r\n"
        "User-agent: BadBot\n"
        "Disallow: /\n"
        "\n"
        "User-agent: FriendlyCrawler\n"
        "User-agent: *\n"
        "Crawl-delay: 7\n"
        "DISALLOW: /*.pdf$  # inline comment\n"
        "disallow: /doc0000\n"
        "Allow: /doc0000\n"
        "Disallow:\n"          # empty value = no rule
        "noise line without colon\n"
        "Sitemap: https://x.example/sitemap.xml\n"
        "\n"
        "User-agent: OtherBot\n"
        "Disallow: /never\n"
    )
    expect = [("/*.pdf$", False), ("/doc0000", False), ("/doc0000", True)]
    assert _parse_robots_rules(body) == expect

    df = spark.createDataFrame([(body,)], "robots string")
    got = df.select(
        entry_mod._robots_rules_col(df["robots"]).alias("r")
    ).collect()[0]["r"]
    assert [(r["pat"], r["allow"]) for r in got] == expect


def test_crawl_policy_grammar(spark):
    """_robots_policy_df against adversarial robots bodies the corpus
    generator never emits: a Crawl-delay in a FOREIGN group must not
    leak into the star group's policy, a missing star group zeroes the
    rule counts but keeps the (non-group-scoped) Sitemap, first-wins
    holds for duplicated scalar directives, and a NULL robots file
    yields a NULL policy row."""
    import __spark_entry__ as entry_mod

    bodies = {
        "foreign-delay": (
            "User-agent: BadBot\nCrawl-delay: 99\nDisallow: /\n\n"
            "User-agent: *\nDisallow: /x\n"
        ),
        "star-stacked": (
            "User-agent: FriendlyCrawler\nUser-agent: *\n"
            "Crawl-delay: 7\nCrawl-delay: 8\n"
            "Sitemap: https://a.example/s1.xml\n"
            "Sitemap: https://a.example/s2.xml\n"
            "Allow: /keep\nDisallow: /\n"
        ),
        "no-star": (
            "User-agent: OtherBot\nDisallow: /never\n"
            "Sitemap: https://b.example/sm.xml\n"
        ),
        "no-robots": None,
    }
    df = spark.createDataFrame(list(bodies.items()),
                               "domain string, robots string")
    got = {r["domain"]: r.asDict()
           for r in entry_mod._robots_policy_df(df).collect()}
    fd = got["foreign-delay"]
    assert fd["crawl_delay"] is None and fd["n_disallow"] == 1
    assert fd["full_block"] == 0  # BadBot's 'Disallow: /' is not ours
    ss = got["star-stacked"]
    assert ss["crawl_delay"] == 7  # first wins
    assert ss["sitemap_url"] == "https://a.example/s1.xml"
    assert ss["n_allow"] == 1 and ss["n_disallow"] == 1
    assert ss["full_block"] == 1
    ns = got["no-star"]
    assert ns["has_robots"] == 1 and ns["crawl_delay"] is None
    assert ns["n_disallow"] == 0 and ns["n_allow"] == 0
    assert ns["sitemap_url"] == "https://b.example/sm.xml"
    nr = got["no-robots"]
    assert nr["has_robots"] == 0
    assert all(nr[c] is None for c in
               ("crawl_delay", "sitemap_url", "n_disallow", "n_allow",
                "full_block"))


def test_sitemap_discovery_chain_and_entity_unescape(spark):
    """gen_sitemap exists iff the robots advertises one (the discovery
    chain a fetcher follows), and the cc_sitemap_urls parse unescapes
    XML predefined entities in the pinned order (&amp; LAST, so the
    double-escape &amp;lt; recovers the literal text '&lt;')."""
    import __spark_entry__ as entry_mod
    from cc_extract.corpusgen import gen_robots, gen_sitemap, robots_rows

    for domain, robots in robots_rows():
        advertised = robots is not None and "Sitemap:" in robots
        assert (gen_sitemap(domain) is not None) == advertised
    assert gen_sitemap("site02.example") == gen_sitemap("site02.example")
    assert gen_robots("site02.example")  # chain sanity: robots exists too

    rows = entry_mod._cc_sitemap_urls(spark, "").collect()
    assert len(rows) > 100
    assert any("&" in r["loc"] for r in rows)       # &amp; unescaped
    assert not any("&amp;" in r["loc"] for r in rows)
    assert any(r["lastmod"] is None for r in rows)  # optional fields
    assert any(r["priority"] is not None for r in rows)
    # per-domain positions are dense from 0 (document order preserved)
    bydom: dict = {}
    for r in rows:
        bydom.setdefault(r["domain"], []).append(r["pos"])
    assert all(sorted(v) == list(range(len(v))) for v in bydom.values())


def test_feed_parse_unified_projection_and_cdata(spark):
    """cc_feed_urls spec pins: CDATA titles are LITERAL (raw '&'
    survives, no entity unescape), non-CDATA titles/urls unescape the
    XML predefined entities, RSS links come from element text vs Atom
    from <link href>, dates stay raw strings per kind, and per-domain
    positions are dense from 0."""
    import __spark_entry__ as entry_mod
    from cc_extract.corpusgen import feed_rows

    feeds = dict(feed_rows())
    assert feeds == dict(feed_rows())  # deterministic, own rng stream

    rows = entry_mod._cc_feed_urls(spark, "").collect()
    assert len(rows) > 100
    kinds = {r["kind"] for r in rows}
    assert kinds == {"rss", "atom"}
    # CDATA literal: the generator's CDATA titles end in '(raw)' and
    # carry a bare '&' that must survive unchanged
    cdata = [r for r in rows if r["title"] and r["title"].endswith("(raw)")]
    assert cdata and all(" & " in r["title"] for r in cdata)
    assert not any("CDATA" in (r["title"] or "") for r in rows)
    # non-CDATA entity unescape: '&amp;' never leaks through
    assert any("&" in (r["title"] or "") for r in rows if not
               r["title"].endswith("(raw)"))
    assert not any("&amp;" in (r["title"] or "") for r in rows)
    assert any("&" in (r["url"] or "") for r in rows)
    assert not any("&amp;" in (r["url"] or "") for r in rows)
    # url shape per kind + date dialect per kind
    for r in rows:
        assert r["url"].startswith(f"https://{r['domain']}/")
        if r["published"] is not None:
            if r["kind"] == "atom":
                assert r["published"].endswith("Z") and "T" in r["published"]
            else:
                assert r["published"].endswith(" GMT")
        if r["kind"] == "atom":
            assert r["entry_id"].startswith("tag:")
    # optional fields show as NULL
    assert any(r["published"] is None for r in rows)
    assert any(r["entry_id"] is None for r in rows if r["kind"] == "rss")
    # dense document-order positions per domain
    bydom: dict = {}
    for r in rows:
        bydom.setdefault(r["domain"], []).append(r["pos"])
    assert all(sorted(v) == list(range(len(v))) for v in bydom.values())


def test_quality_classifier_learns_past_the_prior(spark):
    """The GD-trained linear model must actually learn: training accuracy
    beats the keep-class prior (always-keep baseline), and the learned
    weight on the band-distance feature is negative (distance from the
    mean-token-length band center lowers keep probability)."""
    from cc_extract.textops import quality_classifier

    row = quality_classifier(spark, "/root/testdata/sf0.01").collect()[0]
    prior = max(row["n_keep"], row["n_docs"] - row["n_keep"]) / row["n_docs"]
    assert row["accuracy"] > prior + 0.02
    assert row["w2"] < 0


def test_bloom_membership_no_false_negatives(spark):
    """Bloom-filter theorems on a controlled key set: (a) ZERO false
    negatives — every seen key probes all K positions into set bits by
    construction; (b) n_hits is bounded by K; (c) at light load
    (300 keys in 4096 bits -> fpr ~ 0.004) unseen keys are almost never
    (falsely) positive, so the filter is doing real discrimination."""
    from cc_extract import textops

    seen = spark.createDataFrame(
        [(f"https://s.example/p{i}",) for i in range(300)], "url string")
    cand = spark.createDataFrame(
        [(f"https://s.example/p{i}",) for i in range(0, 300, 7)]
        + [(f"https://other.example/q{i}",) for i in range(200)],
        "url string")
    rows = textops.bloom_membership(seen, cand).collect()
    got = {r["url"]: r for r in rows}
    assert len(got) == len(range(0, 300, 7)) + 200
    for i in range(0, 300, 7):
        r = got[f"https://s.example/p{i}"]
        assert r["n_hits"] == textops.BLOOM_K and r["probably_seen"] == 1
    assert all(0 <= r["n_hits"] <= textops.BLOOM_K for r in rows)
    fp = sum(r["probably_seen"] for r in rows
             if r["url"].startswith("https://other"))
    assert fp <= 20


def test_event_attribution_semantics(spark, tmp_path):
    """Last-touch attribution on a hand-built stream, pinning every edge
    of the contract: window inclusivity (exactly 7 days attributes; 7
    days + 1s is direct), no-prior-touch purchases are direct, non-touch
    events between touch and purchase don't break the chain, ts ties
    resolve by event_id (the LAST in the total order wins), and cents
    are exact."""
    from datetime import datetime, timedelta

    from cc_extract.relops import event_attribution

    t0 = datetime(2024, 3, 1, 12, 0, 0)

    def ev(eid, uid, dt, typ, val=10.0):
        return (eid, t0 + timedelta(seconds=dt), uid, typ, val, "{}")

    rows = [
        # u1: view -> purchase next day = attributed to view
        ev(1, 1, 0, "view"),
        ev(2, 1, 86400, "purchase", 12.34),
        # u1: second purchase 10 days after the view = direct
        ev(3, 1, 10 * 86400, "purchase", 1.00),
        # u2: purchase with no prior events = direct
        ev(4, 2, 0, "purchase", 5.00),
        # u3: click and signup at the SAME ts -> higher event_id wins
        ev(5, 3, 0, "click"),
        ev(6, 3, 0, "signup"),
        ev(7, 3, 3600, "purchase", 7.77),
        # u4: touch exactly 7 days before = attributed (<=)
        ev(8, 4, 0, "click"),
        ev(9, 4, 7 * 86400, "purchase", 2.00),
        # u5: touch 7 days + 1 s before = direct
        ev(10, 5, 0, "click"),
        ev(11, 5, 7 * 86400 + 1, "purchase", 3.00),
        # u6: error event after the view must not steal attribution
        ev(12, 6, 0, "view"),
        ev(13, 6, 10, "error"),
        ev(14, 6, 20, "purchase", 4.00),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(sf / "events.parquet"))

    got = {
        r["touch_type"]: (r["n_purchases"], r["attributed_cents"])
        for r in event_attribution(spark, str(sf)).collect()
    }
    assert got["view"] == (2, 1234 + 400)
    assert got["direct"] == (3, 100 + 500 + 300)
    assert got["signup"] == (1, 777)
    assert got["click"] == (1, 200)
    assert set(got) == {"view", "direct", "signup", "click"}


def test_cms_one_sided_guarantee(spark):
    """Count-min estimates NEVER undercount: overestimate >= 0 on every
    reported row, est == true for keys with collision-free rows, and
    the top-k ordering is by exact count (the sketch only estimates)."""
    from cc_extract.relops import event_heavy_hitters_cms

    rows = event_heavy_hitters_cms(
        spark, "/root/testdata/sf0.001", k=50).collect()
    assert rows, "no users"
    assert all(r["overestimate"] >= 0 for r in rows)
    assert all(r["cms_est"] >= r["true_count"] for r in rows)
    counts = [r["true_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)
