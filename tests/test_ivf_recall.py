"""IVF ANN quality gate: recall@10 of the k-means-trained coarse quantizer
vs the exact brute-force baseline (VERDICT r1 #7)."""

from __future__ import annotations

from flink_job_spark.queries import all_queries


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["qid"], set()).add(r["vec_id"])
    return out


def test_ivf_kmeans_recall_at_10(spark, sf_dir):
    qs = all_queries()
    truth = _topk_sets(qs["q_ann_cosine_topk"].fn(spark, sf_dir))
    got = _topk_sets(qs["q_ann_ivf_kmeans"].fn(spark, sf_dir))
    spark.catalog.clearCache()
    assert set(got) == set(truth)  # same query set answered
    recalls = [len(got[q] & truth[q]) / len(truth[q]) for q in truth]
    recall = sum(recalls) / len(recalls)
    assert recall >= 0.9, f"recall@10 = {recall:.3f} ({recalls})"


def test_kmeans_centroids_deterministic(spark, sf_dir):
    """Two runs produce bit-identical centroids (seeded init + exact-decimal
    means: no FP order dependence anywhere)."""
    from flink_job_spark.queries.similarity import (
        IVF_CENTROIDS,
        KMEANS_ITERS,
        _vecs,
        kmeans_lite_centroids,
    )

    e = _vecs(spark, sf_dir).persist()
    a = kmeans_lite_centroids(spark, e, IVF_CENTROIDS, KMEANS_ITERS)
    b = kmeans_lite_centroids(spark, e, IVF_CENTROIDS, KMEANS_ITERS)
    spark.catalog.clearCache()
    assert a == b  # exact float equality, including norms


def test_pq_rerank_recall_at_10(spark, sf_dir):
    """PQ ADC+rerank recall@10 vs EXACT L2 top-10 (the metric PQ
    approximates — cosine would punish the key for a metric it never
    claimed). Raw ADC on the 16-code id-sample books recalls ~0.3 on these
    random synthetic vectors; the 50-candidate exact rerank must retain
    clearly more than that."""
    import numpy as np

    from flink_job_spark.queries.similarity import N_QUERY_VECS, _vecs

    qs = all_queries()
    rows = _vecs(spark, sf_dir).select("vec_id", "v").collect()
    spark.catalog.clearCache()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([list(r["v"]) for r in rows], dtype=np.float64)

    got = _topk_sets(qs["q_ann_pq"].fn(spark, sf_dir))
    spark.catalog.clearCache()

    recalls = []
    for qi in range(N_QUERY_VECS):
        q = X[ids == qi][0]
        d = ((X - q) ** 2).sum(axis=1)
        d[ids == qi] = np.inf
        exact = set(ids[np.lexsort((ids, d))[:10]].tolist())
        recalls.append(len(exact & got[qi]) / len(exact))
    recall = sum(recalls) / len(recalls)
    assert recall >= 0.5, f"PQ rerank recall@10 = {recall:.3f} ({recalls})"


def test_pq_codes_are_compact_and_in_range(spark, sf_dir):
    """The encoded corpus really is PQ_M small ints per vector — the 8-byte
    scan format the key's 100 TB story rests on."""
    from pyspark.sql import functions as F

    from flink_job_spark.queries.similarity import (
        PQ_CODES,
        PQ_M,
        _vecs,
        pq_encode,
    )

    enc = pq_encode(_vecs(spark, sf_dir))
    stats = enc.select(
        F.min(F.size("codes")).alias("mn"),
        F.max(F.size("codes")).alias("mx"),
        F.min(F.array_min("codes")).alias("cmin"),
        F.max(F.array_max("codes")).alias("cmax"),
    ).collect()[0]
    spark.catalog.clearCache()
    assert stats["mn"] == stats["mx"] == PQ_M
    assert 0 <= stats["cmin"] and stats["cmax"] < PQ_CODES


def test_query_set_larger_than_the_shared_sample_fails_loudly(spark, sf_dir, monkeypatch):
    """The ANN keys read their query vectors out of the collected low-id
    centroid / codebook sample; a query set larger than that sample must
    raise instead of being silently truncated."""
    import pytest

    from flink_job_spark.queries import similarity

    monkeypatch.setattr(similarity, "N_QUERY_VECS", similarity.IVF_CENTROIDS + 1)
    with pytest.raises(ValueError, match="IVF_CENTROIDS"):
        all_queries()["q_ann_ivf_topk"].fn(spark, sf_dir)
    rows = [(i,) for i in range(similarity.PQ_CODES)]
    monkeypatch.setattr(similarity, "N_QUERY_VECS", similarity.PQ_CODES + 1)
    with pytest.raises(ValueError, match="PQ_CODES"):
        similarity._query_prefix(rows, similarity.PQ_CODES, "PQ_CODES")
    monkeypatch.setattr(similarity, "N_QUERY_VECS", 3)
    assert similarity._query_prefix(rows, similarity.PQ_CODES, "PQ_CODES") == rows[:3]
