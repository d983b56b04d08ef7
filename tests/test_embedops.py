"""Embedding near-dup scale-path properties (SURVEY.md §2 similarity
family): the banded-LSH candidate->verify recipe can only MISS pairs,
never invent them, and recall must rise monotonically with bands."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from cc_extract import embedops  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _pairs(df):
    return {(r["vec_a"], r["vec_b"]) for r in df.select("vec_a", "vec_b").collect()}


def test_lsh_near_dup_is_subset_of_exact(spark):
    """Exact verification makes false positives impossible: every banded
    config's output must be a subset of the all-pairs truth, with
    identical cos_sim on the shared pairs."""
    exact_df = embedops.cosine_near_dup_pairs(spark, SF_DIR)
    exact = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"] for r in exact_df.collect()
    }
    for _name, bands, bits, _cost in embedops.ND_CONFIGS:
        found = embedops.lsh_near_dup_pairs(
            spark, SF_DIR, bands=bands, band_bits=bits
        ).collect()
        for r in found:
            key = (r["vec_a"], r["vec_b"])
            assert key in exact, f"{bands}x{bits}: invented pair {key}"
            assert r["cos_sim"] == exact[key]


def test_lsh_near_dup_recall_monotone_in_bands(spark):
    """More bands can only add candidate pairs (each band is a union
    term), so found-pair sets are nested 2x4 ⊆ 4x4 ⊆ 8x4 — the
    recall-vs-cost dial the docstring promises."""
    p2 = _pairs(embedops.lsh_near_dup_pairs(spark, SF_DIR, bands=2, band_bits=4))
    p4 = _pairs(embedops.lsh_near_dup_pairs(spark, SF_DIR, bands=4, band_bits=4))
    p8 = _pairs(embedops.lsh_near_dup_pairs(spark, SF_DIR, bands=8, band_bits=4))
    assert p2 <= p4 <= p8


def test_lsh_planes_prefix_stable():
    """Widening the plane stream must not perturb the 8-plane ANN index:
    lsh_planes(32)[:8] == lsh_planes(8)."""
    assert embedops.lsh_planes(32)[: embedops.N_PLANES] == embedops.lsh_planes()


def test_recall_frontier_columns(spark):
    rows = embedops.lsh_near_dup_recall(spark, SF_DIR).collect()
    assert [r["method"] for r in rows] == ["band2x4", "band4x4", "band8x4"]
    for r in rows:
        assert 0.0 <= r["recall"] <= 1.0
        assert r["n_pairs"] <= r["n_true"]


def test_semdedup_decision_properties(spark):
    """SemDeDup's greedy rule, pinned structurally (the value-level pin
    is the DuckDB oracle):

    - every DROPPED vector has a lower-ranked cellmate with pairwise
      cosine >= eps (a concrete witness — drops are never spurious);
    - the lowest-centroid-sim member of every cell is always kept
      (rank 1 has no lower-ranked cellmate by construction);
    - raising eps only shrinks the dropped set (threshold monotonicity);
    - at eps > 1 nothing drops (cosine is bounded by 1)."""
    from pyspark.sql import functions as F

    df = embedops.semdedup(spark, SF_DIR).cache()
    rows = {r["vec_id"]: r for r in df.collect()}
    emb = {
        r["vec_id"]: r["e"]
        for r in embedops.load_embeddings(spark, SF_DIR)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return round(dot / (na * nb), 5)

    # rank order within a cell = (centroid_sim asc, vec_id asc)
    by_cell: dict[int, list] = {}
    for r in sorted(rows.values(),
                    key=lambda r: (r["cell"], r["centroid_sim"], r["vec_id"])):
        by_cell.setdefault(r["cell"], []).append(r)
    n_dropped = 0
    for cell, members in by_cell.items():
        assert members[0]["kept"], f"cell {cell} rank-1 must be kept"
        for i, r in enumerate(members):
            if r["kept"]:
                continue
            n_dropped += 1
            assert any(
                cos(emb[r["vec_id"]], emb[m["vec_id"]])
                >= embedops.SEMDEDUP_EPS
                for m in members[:i]
            ), f"dropped {r['vec_id']} has no witness"
    assert n_dropped >= 1, "default eps never dropped anything"

    dropped_04 = {v for v, r in rows.items() if not r["kept"]}
    dropped_06 = {
        r["vec_id"]
        for r in embedops.semdedup(spark, SF_DIR, eps=0.6).collect()
        if not r["kept"]
    }
    assert dropped_06 <= dropped_04
    assert all(
        r["kept"] for r in embedops.semdedup(spark, SF_DIR, eps=1.01).collect()
    )


def test_sq8_codes_bounded_and_deterministic(spark):
    """Every SQ8 code is in [0,255]; the learned bounds are stable
    across calls (cache) and the query ints are exact integers."""
    from cc_extract import embedops as eo
    from pyspark.sql import functions as F

    mn, span = eo.sq8_bounds(spark, SF_DIR)
    assert len(mn) == eo.DIM and len(span) == eo.DIM
    assert all(s > 0 for s in span)
    assert (mn, span) == eo.sq8_bounds(spark, SF_DIR)  # cached, identical
    emb = eo.load_embeddings(spark, SF_DIR)
    codes = emb.select(
        eo._sq8_quantize(F.col("embedding"), mn, span).alias("c"))
    mx = codes.select(
        F.max(F.array_max("c")).alias("hi"),
        F.min(F.array_min("c")).alias("lo")).collect()[0]
    assert 0 <= mx["lo"] and mx["hi"] <= 255
    qi = eo.sq8_query_ints(mn, span)
    assert all(isinstance(x, int) for x in qi) and len(qi) == eo.DIM


def test_sq8_adc_recall_is_high(spark):
    """ADC scoring (int codes x span-scaled integer query) must rank
    essentially like the exact cosine: recall@10 >= 0.8 — the measured
    motivation for asymmetric over symmetric scoring (quantizing the
    raw non-unit query with the data's bounds clips it: recall 0.3)."""
    from cc_extract import embedops as eo

    row = eo.sq8_recall(spark, SF_DIR).collect()[0]
    assert row["method"] == "sq8_dot" and row["k"] == 10
    assert row["recall"] >= 0.8, row
    assert row["max_q_err_1e6"] > 0


def test_sq8_scores_are_exact_integers(spark):
    """The full score column round-trips as int64 — no float widening
    anywhere (the cross-engine order-insensitivity argument)."""
    from cc_extract import embedops as eo

    df = eo.sq8_ann(spark, SF_DIR)
    assert dict(df.dtypes)["adc_dot"] == "bigint"
    rows = df.collect()
    assert len(rows) == 10
    assert all(isinstance(r["adc_dot"], int) for r in rows)
    # descending, vec_id tiebreak = a total order
    keys = [(-r["adc_dot"], r["vec_id"]) for r in rows]
    assert keys == sorted(keys)
