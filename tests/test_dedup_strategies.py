"""Round-4 similarity-join strategies: PPJoin prefix filtering must equal
the brute-force ground truth exactly (lossless filter), the incremental
probe must equal the symmetric pass restricted to cross-set pairs, and the
mapInArrow cosine twin must be row-identical to its mapInPandas sibling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_earthquake_gcp_spark.operators.dedup import (
    jaccard_pairs_bitmask,
    minhash_band_pairs,
    minhash_band_pairs_open,
    minhash_incremental_pairs,
    ppjoin_pairs,
)
from etl_earthquake_gcp_spark.plans.vector_queries import (
    cosine_topk_arrow,
    cosine_topk_pandas,
)
from etl_earthquake_gcp_spark.sources.tables import load_table

from .conftest import SF_DIR


@pytest.mark.parametrize("threshold", [-0.1, 1.5, float("nan"), 1e-300])
def test_open_verify_rejects_out_of_range_threshold(threshold):
    """The exact verify turns the threshold into long literals; outside
    [0, 1], or too small to fit them, it must fail before any plan is built."""
    with pytest.raises(ValueError, match="threshold"):
        minhash_band_pairs_open(threshold=threshold)


def test_ppjoin_equals_bruteforce(spark):
    docs = load_table(spark, SF_DIR, "documents")
    truth = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_pairs_bitmask(docs, threshold=0.8).collect()
    }
    pruned = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ppjoin_pairs(docs, threshold_num=4, threshold_den=5).collect()
    }
    assert pruned == truth  # lossless: not one pair gained or lost
    assert truth  # non-trivial corpus


def test_ppjoin_prunes_candidates(spark):
    """The prefix filter must actually prune: candidate probes per doc are
    p = s - ceil(0.8 s) + 1 << s, so the prefix table is much smaller than
    the full posting table it replaces."""
    docs = load_table(spark, SF_DIR, "documents")
    tok_rows = (
        docs.select(
            F.explode(F.array_distinct(F.split("text", " "))).alias("t")
        ).count()
    )
    # reconstruct the operator's prefix volume: sum over docs of plen
    sizes = (
        docs.select(
            F.size(F.array_distinct(F.split("text", " "))).alias("s")
        )
        .agg(
            F.sum(
                F.col("s")
                - F.floor((4 * F.col("s") + 4) / 5).cast("int")
                + 1
            ).alias("prefix_rows")
        )
        .collect()[0]
    )
    assert sizes.prefix_rows < tok_rows * 0.5


def test_incremental_probe_equals_symmetric_cross_pairs(spark):
    docs = load_table(spark, SF_DIR, "documents")
    sym = minhash_band_pairs(docs, 16, 4, 0.8, 42).collect()
    cross = {
        (r.doc_a, r.doc_b, r.jaccard) if r.doc_a % 5 == 0
        else (r.doc_b, r.doc_a, r.jaccard)
        for r in sym
        if (r.doc_a % 5 == 0) != (r.doc_b % 5 == 0)
    }
    inc = {
        (r.new_doc, r.dup_of, r.jaccard)
        for r in minhash_incremental_pairs(
            docs, is_new=F.col("doc_id") % 5 == 0
        ).collect()
    }
    assert inc == cross
    assert all(a % 5 == 0 and b % 5 != 0 for a, b, _ in inc)


def test_cosine_arrow_equals_pandas(spark):
    pandas_rows = {
        tuple(r) for r in cosine_topk_pandas(spark, SF_DIR).collect()
    }
    arrow_rows = {
        tuple(r) for r in cosine_topk_arrow(spark, SF_DIR).collect()
    }
    assert arrow_rows == pandas_rows
    assert arrow_rows
