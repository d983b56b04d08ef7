"""Per-seed inputs and references for the two workloads.

Everything here is a pure function of the seed, the sizes below and the
source files that generate it, is built without Spark, and is cached
under ``perfbench/.cache/inputs`` so it stays outside every timed window:

- one base corpus per seed: ``corpusgen.gen_doc`` rows of every format
  for the ids in ``[0, BASE_IDS)`` of no rare kind, plus the first
  ``RARE_IDS[kind]`` ids of each rare kind, and the keep-newest reference
  (``extract_document`` over the newest crawl of every url, the rule
  ``tests/golden_gen.py`` uses);
- ``warc_mixed``: every row of the base corpus as ``WARC_SEGMENTS``
  ``.warc.gz`` segments (``warc.write_warc_gz``);
- ``curate_funnel``: a documents table of ``FUNNEL_DOCS`` extracted
  texts plus a seeded exact- and near-duplicate tail, with the DuckDB
  ``doc_curation_funnel`` oracle result as its reference.

Cache directories are named after a digest of those source files
(``source_digest``), so what a run reads depends only on the tree it runs
in, never on which tree filled the cache first.
"""

from __future__ import annotations

import contextlib
import csv
import gzip
import hashlib
import json
import os
import random
import shutil
import time
import uuid

# Sizes are fixed by the run budget: every run (set-up, warm-up and the
# timed passes) has to fit in about a minute on 4 cores.
BASE_IDS = 800
# Rare kinds of document whose count would otherwise depend on the seed.
# Payloads above job.DEFAULT_SALT_THRESHOLD take the giants branch; they
# are ~1.2 MB pdfs, 0-3 per 800 ids, and would make a seed's payload MB
# vary by half.  Images are the only documents that run OCR, 0-3 per 800
# ids.  Every seed gets exactly this many ids of each.
GIANT_BYTES = 1 << 20
RARE_IDS = {"giant": 2, "image": 3}
WARC_SEGMENTS = 16
FUNNEL_DOCS = 400         # extracted documents, before the duplicate tail
FUNNEL_EXACT_DUP = 16     # of them re-published verbatim
FUNNEL_NEAR_DUP = 40      # re-published with a few words changed
# A few seeds extract 35-60k-character spreadsheets; one of them makes a
# funnel pass twice as slow, so per-seed throughput would measure which
# seed it was.  Longer documents are left out of the funnel table.
FUNNEL_MAX_CHARS = 8000
GOLDEN_SEED = 42
# Sources whose code decides the inputs and references: the corpus
# generator, the extractors, the WARC writer, the oracle SQL and this file.
SOURCES = ("cc_extract", "__spark_entry__.py", "perfbench/inputs.py")


def source_digest(root: str) -> str:
    """Short sha256 over the paths and bytes of every .py file in SOURCES."""
    files = []
    for src in SOURCES:
        path = os.path.join(root, src)
        if os.path.isfile(path):
            files.append(path)
        for d, dirs, names in os.walk(path):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith(".py")]
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode("utf-8") + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read() + b"\0")
    return h.hexdigest()[:16]


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _write_table(table, path: str) -> None:
    import pyarrow.parquet as pq

    pq.write_table(table, path)


@contextlib.contextmanager
def _building(path: str):
    """Build a cache directory under a temporary name and publish it with
    one rename, so a run killed mid-build never leaves a half input."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        yield tmp
        os.replace(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _rare_kind(doc: list[dict]) -> str | None:
    from cc_extract.sniff import sniff_format

    if any(len(r["html"]) > GIANT_BYTES for r in doc):
        return "giant"
    if any(sniff_format(r["html"], r["url"]) == "image" for r in doc):
        return "image"
    return None


def _base(seed: int, cache: str) -> str:
    """Corpus rows and keep-newest reference (see the module docstring)."""
    path = os.path.join(cache, f"base-s{seed}")
    if os.path.isdir(path):
        return path
    import pyarrow as pa

    from cc_extract.corpusgen import gen_doc
    from cc_extract.extractors import extract_document

    rows = []
    left = dict(RARE_IDS)
    i = 0
    while i < BASE_IDS or any(left.values()):
        doc = gen_doc(i, seed)
        kind = _rare_kind(doc)
        if (kind is None and i < BASE_IDS) or left.get(kind, 0) > 0:
            if kind:
                left[kind] -= 1
            for r in doc:
                r["id"] = i
                rows.append(r)
        i += 1
    newest: dict[str, dict] = {}
    for r in rows:
        cur = newest.get(r["url"])
        if cur is None or r["warc_ts"] > cur["warc_ts"]:
            newest[r["url"]] = r
    ref = {k: [] for k in ("id", "url", "status", "text_sha256", "text",
                           "lang")}
    for url in sorted(newest):
        r = newest[url]
        res = extract_document(r["html"], url)
        ref["id"].append(r["id"])
        ref["url"].append(url)
        ref["status"].append(res["status"])
        ref["text_sha256"].append(_sha(res["text"]))
        ref["text"].append(res["text"])
        ref["lang"].append(r["lang"])
    ts = pa.timestamp("us", tz="UTC")
    corpus = pa.table({
        "url": [r["url"] for r in rows],
        "warc_ts": pa.array([r["warc_ts"] for r in rows], ts),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
    })
    with _building(path) as tmp:
        _write_table(corpus, os.path.join(tmp, "corpus.parquet"))
        _write_table(pa.table(ref), os.path.join(tmp, "reference.parquet"))
    return path


def _read(path: str):
    import pyarrow.parquet as pq

    return pq.read_table(path)


def _reference(table) -> dict[str, tuple[str, str]]:
    cols = table.select(["url", "status", "text_sha256"]).to_pydict()
    return {u: (s, h) for u, s, h in
            zip(cols["url"], cols["status"], cols["text_sha256"])}


def golden_mismatches(root: str, reference: dict) -> int:
    """Reference rows that differ from the checked-in 20k golden, over
    the urls both cover (the golden is seed 42, ids [0, 20000))."""
    path = os.path.join(root, "tests", "golden", "golden_20000.csv.gz")
    bad = 0
    seen = 0
    with gzip.open(path, "rt", newline="") as f:
        for row in csv.DictReader(f):
            want = reference.get(row["url"])
            if want is None:
                continue
            seen += 1
            bad += want != (row["status"], row["text_sha256"])
    return bad + (len(reference) - seen)


def _segment_of(url: str) -> int:
    return int(hashlib.md5(url.encode("utf-8")).hexdigest(), 16) % WARC_SEGMENTS


def warc_mixed(seed: int, cache: str, root: str) -> dict:
    path = os.path.join(cache, f"warc-s{seed}")
    base = _base(seed, cache)
    if not os.path.isdir(path):
        from cc_extract.warc import write_warc_gz

        corpus = _read(os.path.join(base, "corpus.parquet")).to_pydict()
        segs: list[list] = [[] for _ in range(WARC_SEGMENTS)]
        for url, ts, payload in zip(corpus["url"], corpus["warc_ts"],
                                    corpus["html"]):
            segs[_segment_of(url)].append((url, ts, payload))
        with _building(path) as tmp:
            os.makedirs(os.path.join(tmp, "segments"))
            for k, recs in enumerate(segs):
                recs.sort(key=lambda r: (r[0], r[1]))
                blob = write_warc_gz(recs, segment=f"s{seed}-{k:02d}")
                seg = os.path.join(tmp, "segments", f"seg-{k:02d}.warc.gz")
                with open(seg, "wb") as f:
                    f.write(blob)
            with open(os.path.join(tmp, "payload.json"), "w") as f:
                json.dump({"payload_bytes": sum(
                    len(p) for recs in segs for _, _, p in recs)}, f)
    with open(os.path.join(path, "payload.json")) as f:
        payload_bytes = json.load(f)["payload_bytes"]
    reference = _reference(_read(os.path.join(base, "reference.parquet")))
    return {
        "input": os.path.join(path, "segments"),
        "reference": reference,
        "n_docs": len(reference),
        "payload_mb": payload_bytes / 1e6,
    }


def _near_dup(text: str, rng: random.Random) -> str:
    """Change a few words of *text*: close enough in shingle Jaccard to be
    a near-duplicate, different enough to survive exact dedup."""
    words = text.split(" ")
    for _ in range(max(1, len(words) // 40)):
        words[rng.randrange(len(words))] = rng.choice(
            ("data", "crawl", "page", "index", "table", "record"))
    return " ".join(words)


@contextlib.contextmanager
def _oracle_sql_only():
    """``__spark_entry__.oracle_sql()`` materializes the extraction-side
    oracle tables as a side effect; the funnel SQL reads none of them, so
    those builders return a placeholder path while the SQL is composed."""
    from cc_extract import oracle_data

    saved = {k: v for k, v in vars(oracle_data).items()
             if k.endswith("_table") and callable(v)}
    for k in saved:
        setattr(oracle_data, k, lambda *a, **kw: "unused.parquet")
    try:
        yield
    finally:
        for k, v in saved.items():
            setattr(oracle_data, k, v)


def _min_labels(ids, edges) -> dict[int, int]:
    """Smallest doc_id of each connected component (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def funnel_oracle(root: str, docs_path: str, scratch: str) -> list[list]:
    """Rows of the DuckDB ``doc_curation_funnel`` oracle over *docs_path*.

    The funnel SQL embeds its component oracles as subqueries.  Each one
    is run once into a table and its text in the funnel is replaced by a
    scan of that table, which keeps the SQL's semantics (the subqueries
    are deterministic) but not DuckDB 1.0's habit of re-expanding them.
    ``doc_dedup_keep_decision`` cannot be run as written: the recursive
    ``walk`` closure inside ``doc_dup_clusters`` runs out of disk on
    extracted text (300 docs take 87 s, 600 exhaust the disk).  Its
    verified near-dup edges (the ``vnd`` CTE) still come from the oracle
    SQL, and the closure's result, keep = (doc_id is the smallest doc_id
    of its component), is finished here.  On 300 documents this returns
    the same rows as the unmodified funnel SQL."""
    import sys

    import duckdb
    import pandas as pd

    if root not in sys.path:
        sys.path.insert(0, root)
    import __spark_entry__ as entry

    with _oracle_sql_only():
        sql = entry.oracle_sql()
    funnel, clusters = sql["doc_curation_funnel"], sql["doc_dup_clusters"]
    parts = {"qual_t": sql["doc_corpus_filter"],
             "cont_t": sql["doc_benchmark_decontamination"],
             "nd_t": sql["doc_dedup_keep_decision"]}
    if (any(funnel.count(q) != 1 for q in parts.values())
            or "edges AS (" not in clusters):
        raise RuntimeError("doc_curation_funnel oracle changed shape")
    vnd = (clusters[:clusters.index("edges AS (")].rstrip().rstrip(",")
           + "\nSELECT doc_a, doc_b FROM vnd")
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{scratch}'")
        con.execute("SET threads=4")
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{docs_path}')")
        ids = [r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()]
        labels = _min_labels(ids, con.execute(vnd).fetchall())
        con.register("nd_keep", pd.DataFrame(
            {"doc_id": ids, "keep": [labels[i] == i for i in ids]}))
        con.execute("CREATE TABLE nd_t AS SELECT doc_id, keep FROM nd_keep")
        for name, q in parts.items():
            if name != "nd_t":
                con.execute(f"CREATE TABLE {name} AS {q}")
            funnel = funnel.replace(q, f"SELECT * FROM {name}")
        rows = con.execute(funnel).fetchall()
    finally:
        con.close()
    return [[int(a), str(b), int(c), int(d)] for a, b, c, d in rows]


def curate_funnel(seed: int, cache: str, root: str) -> dict:
    path = os.path.join(cache, f"funnel-s{seed}")
    base = _base(seed, cache)
    if not os.path.isdir(path):
        import pyarrow as pa

        ref = _read(os.path.join(base, "reference.parquet")).sort_by(
            "id").to_pydict()
        docs = []
        for url, status, text, lang in zip(ref["url"], ref["status"],
                                           ref["text"], ref["lang"]):
            if (status in ("ok", "ok_ocr") and text.strip()
                    and len(text) <= FUNNEL_MAX_CHARS):
                docs.append((text, lang, url.split("/")[2].lower()))
        docs = docs[:FUNNEL_DOCS]
        rng = random.Random(seed)
        picked = rng.sample(docs, FUNNEL_EXACT_DUP + FUNNEL_NEAR_DUP)
        docs += picked[:FUNNEL_EXACT_DUP] + [
            (_near_dup(t, rng), lang, src)
            for t, lang, src in picked[FUNNEL_EXACT_DUP:]]
        rng.shuffle(docs)
        table = pa.table({
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": [d[0] for d in docs],
            "lang": [d[1] for d in docs],
            "source": [d[2] for d in docs],
            "n_chars": pa.array([len(d[0]) for d in docs], pa.int64()),
        })
        with _building(path) as tmp:
            _write_table(table, os.path.join(tmp, "documents.parquet"))
            oracle = funnel_oracle(
                root, os.path.join(tmp, "documents.parquet"),
                os.path.join(cache, "duckdb-tmp"))
            with open(os.path.join(tmp, "oracle.json"), "w") as f:
                json.dump(oracle, f)
    with open(os.path.join(path, "oracle.json")) as f:
        oracle = json.load(f)
    text = _read(os.path.join(path, "documents.parquet"))["text"]
    return {
        "input": path,
        "reference": oracle,
        "n_docs": len(text),
        "payload_mb": sum(len(t.encode("utf-8")) for t in text.to_pylist()) / 1e6,
    }


PREPARE = {"warc_mixed": warc_mixed, "curate_funnel": curate_funnel}


def prepare(workload: str, seed: int, cache: str, root: str) -> dict:
    """Inputs and reference for one (workload, seed); ``prep_s`` is the
    time this call took, cached or not."""
    t0 = time.perf_counter()
    cache = os.path.join(cache, source_digest(root))
    os.makedirs(cache, exist_ok=True)
    info = PREPARE[workload](seed, cache, root)
    if seed == GOLDEN_SEED and workload != "curate_funnel":
        info["golden_mismatches"] = golden_mismatches(root, info["reference"])
    info["prep_s"] = time.perf_counter() - t0
    return info
