"""Hot-shingle doc-frequency cap: candidate volume stays bounded on a
pathologically skewed corpus (every document shares one stop-shingle), while
genuinely near-duplicate pairs — the ones sharing rare shingles — survive
with exact full-set Jaccard scores."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_job_spark.queries.dedup import (
    _verified_pairs,
    cap_shingles,
    doc_shingles,
)

N_DOCS = 60
CAP = 10


def _skewed_corpus(spark):
    """Every doc starts with the same 3 words (one shared stop-shingle); the
    tail is unique per doc. Docs 900/901 share only rare shingles; docs
    950/951 share the hot shingle AND a rare one (exercises the hot-shingle
    intersection correction)."""
    rows = []
    for i in range(N_DOCS):
        rows.append((i, f"aa bb cc u{i} v{i} w{i}"))
    rows.append((900, "x1 x2 x3 x4"))
    rows.append((901, "x1 x2 x3 x4 x5"))
    rows.append((950, "aa bb cc y1 y2"))
    rows.append((951, "aa bb cc y1 y3"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _candidates(sh):
    return (
        sh.select(F.col("doc_id").alias("d1"), "s")
        .join(sh.select(F.col("doc_id").alias("d2"), "s"), "s")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )


def test_cap_bounds_candidate_volume(spark):
    d = _skewed_corpus(spark)
    sh = doc_shingles(d).persist()

    uncapped = _candidates(sh).count()
    assert uncapped >= N_DOCS * (N_DOCS - 1) // 2  # stop-shingle quadratic blowup

    shc = cap_shingles(sh, CAP)
    capped = _candidates(shc).count()
    # the stop-shingle's 60-doc clique is gone; only the rare-shingle pairs stay
    assert capped == 2
    # shingles below the cap are untouched
    assert shc.filter(F.col("doc_id").isin(900, 901)).count() == sh.filter(
        F.col("doc_id").isin(900, 901)).count()
    sh.unpersist()


def test_capped_candidates_keep_exact_full_set_jaccard(spark):
    from flink_job_spark.queries.dedup import jaccard_pairs_capped

    d = _skewed_corpus(spark)
    sh = doc_shingles(d).persist()
    out = {(r["d1"], r["d2"]): r["jaccard"]
           for r in jaccard_pairs_capped(sh, CAP).collect()}
    # doc 900 {x123, x234} vs doc 901 {x123, x234, x345}: J = 2/3 over FULL sets
    # docs 950/951 share one rare + one HOT shingle: J = 2/(3+3-2) = 0.5 —
    # correct only if the hot-shingle intersection correction is applied
    assert out == {(900, 901): out[(900, 901)], (950, 951): out[(950, 951)]}
    assert abs(out[(900, 901)] - 2 / 3) < 1e-12
    assert abs(out[(950, 951)] - 0.5) < 1e-12

    # the legacy split candidates→verify path agrees (used by minhash)
    cand = _candidates(cap_shingles(sh, CAP))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    legacy = {(r["d1"], r["d2"]): r["jaccard"]
              for r in _verified_pairs(cand, sh, sizes).collect()}
    assert legacy == out
    sh.unpersist()


def test_doc_shingles_max_doc_freq_param(spark):
    """The convenience parameter on doc_shingles wires the same cap."""
    d = _skewed_corpus(spark)
    shc = doc_shingles(d, max_doc_freq=CAP)
    assert _candidates(shc).count() == 2


def test_connected_components_converges_on_chain(spark):
    """A 5-node chain (worst-case diameter) and a singleton both settle to
    min-label components."""
    from flink_job_spark.queries.dedup import connected_components

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 99]], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "d1 long, d2 long")
    out = {r["doc_id"]: r["component"]
           for r in connected_components(docs, pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 99: 99}


def test_star_cc_matches_loop_cc(spark, sf_dir):
    """Large-star/small-star contraction returns the identical labeling as
    the min-label loop on the real near-dup graph."""
    from flink_job_spark.queries.dedup import (
        connected_components, connected_components_star, q_ngram_jaccard)
    from flink_job_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = q_ngram_jaccard(spark, sf_dir).select("d1", "d2").persist()
    a = {(r["doc_id"], r["component"])
         for r in connected_components(d, pairs).collect()}
    b = {(r["doc_id"], r["component"])
         for r in connected_components_star(d, pairs).collect()}
    assert a == b


def test_star_cc_converges_logarithmically_on_chain(spark):
    """A 200-node chain has diameter 199: the min-label loop would need ~200
    rounds; star contraction must finish (all labels = 0) within the default
    15-iteration budget — the O(log n) claim, observed."""
    from flink_job_spark.queries.dedup import connected_components_star

    n = 200
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    pairs = (spark.range(n - 1)
             .select(F.col("id").alias("d1"), (F.col("id") + 1).alias("d2")))
    labels = connected_components_star(docs, pairs)
    assert labels.filter(F.col("component") != 0).count() == 0


def _uf_components(n_nodes, edges):
    """Union-find ground truth: node -> min reachable node id."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in range(n_nodes)}


def test_star_cc_fuzz_vs_union_find(spark):
    """Random graphs — self-loops, duplicate and reversed edges, isolated
    nodes, multiple components — star contraction must agree with
    union-find on every one."""
    import random

    rng = random.Random(7)
    from flink_job_spark.queries.dedup import connected_components_star

    for trial in range(4):
        n = rng.randint(2, 30)
        m = rng.randint(0, 40)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        docs = spark.range(n).withColumnRenamed("id", "doc_id")
        if edges:
            pairs = spark.createDataFrame(edges, "d1 long, d2 long")
        else:
            pairs = spark.createDataFrame([], "d1 long, d2 long")
        got = {r["doc_id"]: r["component"]
               for r in connected_components_star(docs, pairs).collect()}
        assert got == _uf_components(n, edges), (n, sorted(edges))


def test_entity_resolution_oversized_block_cap(spark, tmp_path):
    """An oversized block (> ER_MAX_BLOCK rows sharing (nation, prefix))
    is skipped outright — the linkage-literature rule that bounds
    pairs-per-record; small blocks still pair. Caught by the r5 sf1 gate:
    TPC-H zero-padded names give the 6-char high-order prefix tiny
    cardinality, so uncapped blocks grow linearly and pairs
    quadratically (measured 14.6x at 10x data before the cap)."""
    from flink_job_spark.queries import all_queries
    from flink_job_spark.queries.dedup import ER_MAX_BLOCK

    rows = []
    # hot block: ER_MAX_BLOCK + 10 customers, names "Customer#000000xxx"
    # (shared 6-char prefix at position 10), nation 0
    for i in range(ER_MAX_BLOCK + 10):
        rows.append((i, f"Customer#000000{i % 1000:03d}", "SEG0",
                     float(i % 50), 0))
    # small block in nation 1: three customers one edit apart
    for j, tail in enumerate(["111111101", "111111102", "111111103"]):
        rows.append((10_000 + j, f"Customer#{tail}", "SEG1",
                     1.0 + j, 1))
    df = spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_mktsegment string, "
              "c_acctbal double, c_nationkey long")
    df.write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")

    got = all_queries()["q_entity_resolution"].fn(spark, str(tmp_path)) \
        .collect()
    spark.catalog.clearCache()
    keys = {r["key_a"] for r in got} | {r["key_b"] for r in got}
    assert keys == {10_000, 10_001, 10_002}  # hot block contributed nothing
    assert len(got) == 3  # the three one-edit-apart pairs


def test_minhash_lsh_finds_cjk_near_dups(spark):
    """r6 multilingual honesty, end to end: with the script-aware
    segmenter, the REAL MinHash+LSH pipeline detects planted near-dup
    pairs in Japanese and Thai (no-space scripts). Under the pre-r6 rule
    these docs normalized to ZERO words — every doc got the identical
    degenerate shingle set, so dedup on a CJK corpus was either vacuous
    or all-pairs-duplicate. Distinct docs must NOT pair."""
    from flink_job_spark.queries.dedup import minhash_lsh_pairs

    ja = ("今日は良い天気ですので公園へ散歩に行きます"
          "友達と一緒にお弁当を食べます楽しい一日になりそうです")
    ja_near = ja.replace("公園", "海岸")         # one 2-char phrase differs
    th = ("วันนี้อากาศดีมากผมจึงไปเดินเล่นที่สวนสาธารณะ"
          "กับเพื่อนของผมและกินข้าวกลางวันด้วยกัน")
    th_near = th.replace("สวน", "ชายหาด")
    ja_other = ("昨日は雨が降っていたので家で本を読んでいました"
                "静かな時間を過ごすのも悪くないと思いました")
    docs = spark.createDataFrame(
        [(1, ja), (2, ja_near), (3, th), (4, th_near), (5, ja_other)],
        "doc_id long, text string")
    pairs = {(r["d1"], r["d2"]) for r in minhash_lsh_pairs(docs).collect()}
    assert (1, 2) in pairs, "ja near-dup pair missed"
    assert (3, 4) in pairs, "th near-dup pair missed"
    assert (1, 5) not in pairs and (2, 5) not in pairs, \
        "distinct ja docs must not pair"
    assert not any(d1 in (1, 2) and d2 in (3, 4) for d1, d2 in pairs), \
        "cross-language pairs must not appear"


def test_entity_resolution_rejects_deeper_name_distance(spark, sf_dir, monkeypatch):
    """The 1-deletion candidate keys are complete only for lev <= 1; a larger
    ER_NAME_MAX_DIST must raise (also under python -O), not drop pairs."""
    import pytest

    from flink_job_spark.queries import all_queries, dedup

    monkeypatch.setattr(dedup, "ER_NAME_MAX_DIST", 2)
    try:
        with pytest.raises(ValueError, match="ER_NAME_MAX_DIST"):
            all_queries()["q_entity_resolution"].fn(spark, sf_dir)
    finally:
        spark.catalog.clearCache()
