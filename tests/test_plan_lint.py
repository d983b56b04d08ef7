"""Scale-discipline lint over EVERY contract query's physical plan.

The round-4 slate-8 'late plan audit' was a one-off manual pass; this
makes it a standing invariant.  For each ``queries()`` entry the planned
(not collected) DataFrame must satisfy:

1. no ``CartesianProduct`` — an unkeyed N×M join is never acceptable at
   10^12 docs;
2. ``BroadcastNestedLoopJoin`` only where the build side is a 1-row
   scalar aggregate (the whitelist below names each, with why);
3. no ``BatchEvalPython`` — row-at-a-time Python UDFs are banned from
   every plan (Arrow paths — ArrowEvalPython / FlatMapGroupsInPandas /
   MapInPandas — are the only Python allowed);
4. no parquet scan that reads every column of a wide table when the
   query touches few (spot-checked via ReadSchema on the known-wide
   ``lineitem`` scans: they must never read all 11 columns, since no
   relational query here uses them all).
"""

from __future__ import annotations

import contextlib
import io
import re
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry_mod  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# BroadcastNestedLoopJoin is legitimate ONLY when one side is a 1-row
# scalar relation (Spark has no other physical strategy for a
# no-join-key cross of a scalar): each entry names the scalar.
BNLJ_OK = {
    "q22_idle_high_balance",      # 1-row positive-balance mean
    "q11_important_parts",        # 1-row nation-wide inventory total
    "doc_source_mixture",         # 1-row corpus-total for reweighting
    "doc_token_budget_selection",  # 1-row budget threshold
    "doc_unigram_logprob",        # 1-row corpus token-count normalizer
    "doc_bm25_rank",              # 1-row (N, avgdl) collection statistics
    "doc_dsir_weights",           # 1-row LM totals over the 256-bucket relation
    "doc_bigram_logprob",         # 1-row continuation-vocabulary size V
    "doc_ccnet_buckets",          # inherits unigram_logprob's normalizer
    "doc_deterministic_sample",   # 1-row exact-expected-count bound
    "doc_benchmark_decontamination",  # 1-row benchmark gram count
    "emb_ann_recall",             # 1-row recall aggregate vs truth
    "doc_length_quantiles_approx",  # 1-row exact-quantile bound check
    "distinct_users_approx",      # 1-row exact-count bound check
    "event_funnel",               # 1-row funnel stage aggregate
    "event_value_anomaly",        # 1-row day-level mean/var statistics
    "event_attribution",          # 1-row total-cents denominator
    "doc_heaps_law",              # 1-row max_doc_id bucketing scalar
    "cc_hits",                    # 1-row per-half-step max normalizer
    "cc_dedup_effect",            # three scalar counts assembled driver-side
    # NOT a scalar — the one documented-quadratic query: the exact
    # all-pairs cosine baseline (vec_id < vec_id non-equi self-join)
    # that serves as ground truth for the LSH/IVF scale paths; its own
    # docstring pins that at 10^12 vectors it runs only within buckets.
    "emb_cosine_near_dup",
    # inherits the exact all-pairs truth subplan above (as denominator)
    # plus a 1-row n_true scalar cross; the measured paths are banded
    # equi-joins.
    "emb_lsh_near_dup_recall",
}

_QUERIES = entry_mod.queries()


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_plan_is_scale_disciplined(spark, name):
    df = _QUERIES[name](spark, SF_DIR)
    plan = _plan_of(df)

    assert "CartesianProduct" not in plan, f"{name}: unkeyed cartesian join"
    if "BroadcastNestedLoopJoin" in plan:
        assert name in BNLJ_OK, (
            f"{name}: BroadcastNestedLoopJoin outside the 1-row-scalar "
            f"whitelist\n{plan[:2000]}"
        )
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in the plan"
    )

    # column-pruning spot check on the widest fact table
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c for c in m.group(1).split(",") if c]
        names = {c.split(":")[0] for c in cols}
        if "l_orderkey" in names or "l_shipdate" in names:
            assert len(cols) < 11, (
                f"{name}: lineitem scan reads all columns — projection "
                f"not pushed\n{m.group(0)}"
            )
