"""The LSH banding helpers every near-dup operator shares
(``textops.band_rows``, ``band_pairs``, ``jaccard_verify``), on
hand-built relations small enough to enumerate."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from cc_extract import textops
from tests.plan_check import formatted_plan

# id -> one key per band; 4's band-0 key equals 1-3's band-1 key, which
# must not match across bands
SIGS = {
    1: ("a", "b", "c"),
    2: ("a", "b", "c"),   # every band with 1: still one pair
    3: ("x", "b", "z"),   # band 1 with 1 and 2
    4: ("b", "q", "r"),
    5: ("s", "q", "u"),   # band 1 with 4
    6: ("a", "y", "w"),   # band 0 with 1 and 2
}
PAIRS = {(1, 2), (1, 3), (2, 3), (1, 6), (2, 6), (4, 5)}


def _bands(spark, ids=SIGS):
    sig = spark.createDataFrame(
        [(i, *SIGS[i], f"t{i}") for i in ids], "id long, k0 string, "
        "k1 string, k2 string, tag string")
    return textops.band_rows(sig, "id", [F.col(f"k{b}") for b in range(3)],
                             carry=("tag",))


def test_band_rows_one_row_per_band(spark):
    bands = _bands(spark)
    assert bands.columns == ["id", "tag", "band", "key"]
    assert sorted(tuple(r) for r in bands.collect()) == sorted(
        (i, f"t{i}", b, k) for i, ks in SIGS.items() for b, k in enumerate(ks))


def test_band_pairs_self_join(spark):
    bands = _bands(spark)
    got = textops.band_pairs(bands, bands, "id", ("a", "b"), carry=("tag",))
    assert got.columns == ["a", "b", "tag_a", "tag_b"]
    rows = got.collect()
    # once per pair however many bands it shares, no (x, x), a < b
    assert len(rows) == len(PAIRS)
    assert {(r["a"], r["b"]) for r in rows} == PAIRS
    # carried columns arrive from both sides
    assert all((r["tag_a"], r["tag_b"]) == (f"t{r['a']}", f"t{r['b']}")
               for r in rows)


def test_band_pairs_two_relations_keep_id_order(spark):
    left, right = _bands(spark, (1, 3, 5)), _bands(spark, (2, 4, 6))
    fwd = {tuple(r) for r in textops.band_pairs(
        left, right, "id", ("a", "b")).collect()}
    rev = {tuple(r) for r in textops.band_pairs(
        right, left, "id", ("a", "b")).collect()}
    assert fwd == {(1, 2), (1, 6)}
    assert rev == {(2, 3), (4, 5)}


def test_jaccard_verify_on_candidates_only(spark):
    arrs = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["b", "c", "d"]), (3, ["x"]),
         (4, ["a", "b", "c"])], "doc_id long, sh array<string>")
    cand = spark.createDataFrame([(1, 2), (1, 3), (2, 4)],
                                 "doc_x long, doc_y long")
    got = textops.jaccard_verify(cand, arrs, ("doc_x", "doc_y"))
    assert got.columns == ["doc_x", "doc_y", "jaccard"]
    # (1, 3) shares nothing; (1, 4) is no candidate
    assert sorted(tuple(r) for r in got.collect()) == [(1, 2, 0.5),
                                                       (2, 4, 0.5)]


def test_minhash_error_reads_one_signature_relation(spark):
    """minhash_error's match counts and its verified pairs come from one
    MinHash build: every signature-shaped scan in its plan reads the
    same checkpointed relation."""
    from __spark_entry__ import SF0001

    plan = formatted_plan(textops.minhash_error(spark, SF0001))
    rdds = re.findall(r"Arguments: \[doc_id#\d+L, h0#[^\]]*\], (\S+) at ", plan)
    assert len(rdds) == 4 and len(set(rdds)) == 1
