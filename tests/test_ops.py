"""Semantic property tests for the training-data ops layer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )


def _dup(spark):
    d = _docs(spark)
    return d.unionAll(d.withColumn("doc_id", F.col("doc_id") + 1000))


def test_exact_dedup_finds_all_clones(spark):
    from oshdb_spark.ops.dedup import exact_dedup

    n = _docs(spark).count()
    out = exact_dedup(_dup(spark)).collect()
    assert len(out) == n
    assert all(r.dup_count == 2 for r in out)
    assert all(r.keep_id < 1000 for r in out)


def test_incremental_dedup_verdicts(spark):
    """Delta-vs-corpus classification: exact clones → 'exact' with the
    corpus id; trailing-word perturbations of long docs → 'near' with
    jaccard < 1; fresh content → 'unique' with null match."""
    from oshdb_spark.ops.dedup import incremental_dedup

    corpus = _docs(spark).select("doc_id", "text").filter("doc_id < 50")
    # exact clone of corpus doc 3; near-dup of the longest corpus doc;
    # genuinely new content
    longest = (
        corpus.withColumn("_n", F.size(F.split("text", " ")))
        .orderBy(F.desc("_n"), "doc_id")
        .head()
    )
    delta = corpus.sparkSession.createDataFrame(
        [
            (1003, corpus.filter("doc_id = 3").head()["text"]),
            (1007, longest["text"] + " zz qq"),
            (1011, "entirely fresh never seen content xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in incremental_dedup(delta, corpus).collect()}
    assert len(out) == 3
    assert out[1003]["verdict"] == "exact"
    assert out[1003]["match_id"] == 3
    assert out[1003]["jaccard"] == 1.0
    assert out[1007]["verdict"] == "near"
    assert out[1007]["match_id"] == longest["doc_id"]
    assert 0.5 <= out[1007]["jaccard"] < 1.0
    assert out[1011]["verdict"] == "unique"
    assert out[1011]["match_id"] is None and out[1011]["jaccard"] is None


def test_shard_manifest_layout_invariant(spark):
    """The export manifest is a pure function of content: identical under
    any input partitioning / row order (checksum is bit_xor, shard is an
    id hash — neither sees layout)."""
    from oshdb_spark.ops.export import shard_manifest

    d = _docs(spark).select("doc_id", "text")
    key = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    m1 = key(shard_manifest(d.repartition(1), 8))
    m17 = key(shard_manifest(d.repartition(17, "text"), 8))
    assert m1 == m17
    assert len(m1) == 8
    assert sum(r[1] for r in m1) == d.count()
    # balanced by construction: no shard holds more than 2× the mean
    docs = [r[1] for r in m1]
    assert max(docs) <= 2 * (sum(docs) / len(docs))


def test_write_shards_idempotent_resume(spark, tmp_path):
    """Second write_shards call with identical input matches the stored
    manifest and skips the rewrite (data files untouched)."""
    import glob
    import os

    from oshdb_spark.ops.export import write_shards

    d = _docs(spark).select("doc_id", "text").filter("doc_id < 200")
    base = str(tmp_path / "export")
    m1 = sorted(tuple(r) for r in write_shards(d, base, 4).collect())
    files = sorted(glob.glob(f"{base}/data/**/*.parquet", recursive=True))
    mtimes = {f: os.path.getmtime(f) for f in files}
    m2 = sorted(tuple(r) for r in write_shards(d, base, 4).collect())
    assert m1 == m2
    assert {f: os.path.getmtime(f) for f in files} == mtimes
    # content drift → rewrite
    d2 = d.withColumn("text", F.concat(F.col("text"), F.lit(" x")))
    m3 = sorted(tuple(r) for r in write_shards(d2, base, 4).collect())
    assert m3 != m1
    assert [r[1] for r in m3] == [r[1] for r in m1]  # same shard sizes


def test_minhash_lsh_finds_all_clone_pairs(spark):
    from oshdb_spark.ops.dedup import minhash_lsh_pairs

    n = _docs(spark).count()
    pairs = minhash_lsh_pairs(_dup(spark), jaccard_threshold=0.5).collect()
    clone_pairs = {(r.id_a, r.id_b) for r in pairs if r.id_b == r.id_a + 1000}
    # identical texts always collide in every band → recall 1.0 on clones
    assert len(clone_pairs) == n
    assert all(r.jaccard >= 0.5 for r in pairs)


def test_simhash_finds_all_clone_pairs(spark):
    from oshdb_spark.ops.dedup import simhash_neardup_pairs

    n = _docs(spark).count()
    pairs = simhash_neardup_pairs(_dup(spark), max_hamming=3).collect()
    clone = [r for r in pairs if r.id_b == r.id_a + 1000]
    assert len(clone) == n
    assert all(r.hamming == 0 for r in clone)


def test_lsh_ann_recall_vs_bruteforce(spark):
    from oshdb_spark.ops.similarity import cosine_topk, lsh_ann

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    exact = {r.vec_id for r in cosine_topk(emb, q, k=10).collect()}
    r0 = {r.vec_id for r in lsh_ann(emb, q, k=10, multiprobe=0).collect()}
    r2 = {r.vec_id for r in lsh_ann(emb, q, k=10, multiprobe=2).collect()}
    # the query's own bucket always contains the query vector
    assert 0 in r0 and 0 in r2
    # wider probing can only improve recall; some overlap with exact top-k
    # (these embeddings are near-orthogonal random vectors, so LSH recall
    # ≈ bucket coverage — the property under test is the mechanism)
    assert len(exact & r2) >= len(exact & r0)
    assert len(exact & r2) >= 2


def test_ivf_ann_returns_k(spark):
    from oshdb_spark.ops.similarity import ivf_ann

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    rows = ivf_ann(emb, q, k=5, n_centroids=8, n_probe=4).collect()
    assert len(rows) == 5
    assert rows[0].vec_id == 0  # query vector is its own nearest


def test_ivf_routing_arrow_matches_codegen_at_k256(spark):
    """k=256 > _ROUTE_EXPR_MAX_K routes IVF assignment through the Arrow
    GEMM path; forcing the threshold up replays the same query on the
    unrolled codegen argmax fold — the two must agree on the final
    top-k (ids and rounded cosines), proving the routing swap is
    semantics-preserving before real IVF centroid counts (4k-65k)."""
    import numpy as np

    import oshdb_spark.ops.similarity as SIM

    rng = np.random.default_rng(31)
    n, dim = 400, 8
    rows = [
        (int(i), [float(x) for x in rng.normal(0, 1, dim).round(4)])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rows[0][1]

    def run():
        return [
            (r["vec_id"], round(r["cosine"], 9))
            for r in SIM.ivf_ann(
                df, q, k=10, n_centroids=256, n_probe=16
            ).collect()
        ]

    got_arrow = run()  # default threshold (64) → Arrow GEMM routing
    orig = SIM._ROUTE_EXPR_MAX_K
    SIM._ROUTE_EXPR_MAX_K = 10_000
    try:
        got_expr = run()  # forced codegen argmax fold
    finally:
        SIM._ROUTE_EXPR_MAX_K = orig
    assert got_arrow == got_expr
    assert got_arrow[0][0] == 0  # query vector is its own nearest


def test_ivf_arrow_routing_zero_vector_matches_codegen_sentinel(spark):
    """A zero-norm vector gets _cent = −1 on BOTH routing paths (the
    codegen fold's NaN cosine never beats the −2 seed; the Arrow path
    sets the sentinel explicitly), so it never lands in a probe list."""
    from oshdb_spark.ops.similarity import _ivf_route_arrow

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    got = {
        r["vec_id"]: r["_cent"]
        for r in _ivf_route_arrow(df, cents, "embedding", "_cent").collect()
    }
    assert got == {0: 0, 1: -1, 2: 1}


def test_kmeans_recovers_separated_blobs(spark):
    """3 well-separated blobs → 2 Lloyd iterations recover them exactly
    and the centroids land on the blob means."""
    import numpy as np

    from oshdb_spark.ops.clustering import kmeans_assign, kmeans_train

    rng = np.random.default_rng(7)
    blobs = [(0.0, 0.0), (100.0, 0.0), (0.0, 100.0)]
    rows = []
    # interleave ids across blobs so the deterministic first-k init picks
    # one seed per blob (ids 0,1,2 land in blobs 0,1,2)
    for b, (cx, cy) in enumerate(blobs):
        for j in range(30):
            x, y = rng.normal((cx, cy), 1.0)
            rows.append((b + 3 * j, [float(x), float(y)], b))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, blob int")
    cents, sizes = kmeans_train(df, k=3, n_iter=2)
    assert sorted(sizes) == [30, 30, 30]
    # each trained centroid sits within 1 unit of some blob mean
    for c in cents:
        assert min((c[0] - bx) ** 2 + (c[1] - by) ** 2 for bx, by in blobs) < 1.0
    # assignment is pure (every blob maps to exactly one cluster)
    got = kmeans_assign(df, cents).groupBy("blob").agg(
        F.countDistinct("cluster").alias("k"), F.count(F.lit(1)).alias("n")
    ).collect()
    assert all(r.k == 1 and r.n == 30 for r in got)


def test_kmeans_assign_large_k_matches_expression_path(spark):
    """k>64 routes assignment through the matrix pandas UDF; on
    well-separated inputs it must agree row-for-row with the small-k
    codegen expression (forced by raising the threshold)."""
    import numpy as np

    import oshdb_spark.ops.clustering as CL

    rng = np.random.default_rng(11)
    k, dim, n = 100, 6, 400
    cents = (rng.uniform(-100, 100, size=(k, dim)) * 1.0).round(3).tolist()
    vecs = [
        (int(i), [float(x) for x in np.asarray(cents[i % k]) + rng.normal(0, 0.01, dim)])
        for i in range(n)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got_matrix = {
        r["vec_id"]: r["cluster"]
        for r in CL.kmeans_assign(df, cents).collect()
    }
    orig = CL._EXPR_ARGMIN_MAX_K
    CL._EXPR_ARGMIN_MAX_K = 10_000
    try:
        got_expr = {
            r["vec_id"]: r["cluster"]
            for r in CL.kmeans_assign(df, cents).collect()
        }
    finally:
        CL._EXPR_ARGMIN_MAX_K = orig
    assert got_matrix == got_expr
    assert set(got_matrix.values()) == set(range(k))


def test_arrow_routing_null_vector_matches_expression_path(spark):
    """k > 64 centroids take the Arrow pandas UDFs (ivf routing, kmeans
    assignment); a NULL vector row must get what the ≤64-centroid
    expression fold returns for it (forced by raising the threshold),
    with the other rows of its batch unaffected."""
    import numpy as np

    import oshdb_spark.ops.clustering as CL
    import oshdb_spark.ops.similarity as SIM

    rng = np.random.default_rng(5)
    k, dim = 80, 4
    cents = rng.uniform(-10, 10, size=(k, dim)).round(3).tolist()
    rows = [(i, [float(x) for x in np.asarray(cents[i]) + 0.001]) for i in range(12)]
    rows.append((99, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run():
        kk = {r["vec_id"]: r["cluster"] for r in CL.kmeans_assign(df, cents).collect()}
        ivf = {
            r["vec_id"]: r["_cent"]
            for r in SIM._ivf_route_arrow(df, cents, "embedding", "_cent").collect()
        }
        return kk, ivf

    kk, ivf = run()
    orig = CL._EXPR_ARGMIN_MAX_K
    CL._EXPR_ARGMIN_MAX_K = 10_000
    try:
        kk_expr = {r["vec_id"]: r["cluster"] for r in CL.kmeans_assign(df, cents).collect()}
    finally:
        CL._EXPR_ARGMIN_MAX_K = orig
    assert kk == kk_expr
    assert kk[99] == -1 and ivf[99] == -1
    assert all(kk[i] == i and ivf[i] == i for i in range(12))


def test_kmeans_train_arrow_path_matches_codegen_path(spark):
    """Forcing the large-k/dim Arrow partial-stats update (threshold 0)
    must reproduce the codegen iteration bitwise on integer-coordinate
    inputs (float64 integer sums are exact in any association order), so
    the two training paths are interchangeable wherever sums don't round."""
    import numpy as np

    import oshdb_spark.ops.clustering as CL

    rng = np.random.default_rng(23)
    rows = [
        (int(i), [float(x) for x in rng.integers(-50, 50, size=5)])
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(7)
    base = CL.kmeans_train(df, k=6, n_iter=3)
    orig = CL._EXPR_UPDATE_MAX_CELLS
    CL._EXPR_UPDATE_MAX_CELLS = 0  # k*dim=30 > 0 → Arrow path
    try:
        arrow = CL.kmeans_train(df, k=6, n_iter=3)
    finally:
        CL._EXPR_UPDATE_MAX_CELLS = orig
    assert arrow == base
    # empty-cluster carry: duplicate seeds on 2-point data, Arrow path
    df2 = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [10.0, 10.0])],
        "vec_id long, embedding array<float>",
    )
    CL._EXPR_UPDATE_MAX_CELLS = 0
    try:
        cents, sizes = CL.kmeans_train(df2, k=3, n_iter=2)
    finally:
        CL._EXPR_UPDATE_MAX_CELLS = orig
    assert sizes == [2, 0, 1]
    assert cents[1] == [0.0, 0.0]


def test_kmeans_deterministic_and_empty_cluster_keeps_centroid(spark):
    from oshdb_spark.ops.clustering import kmeans_train

    # two distinct points, k=3 → init has a duplicate centroid; ties go to
    # the lowest index, so the duplicate cluster ends up empty and must
    # keep its previous (initial) centroid
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [10.0, 10.0])],
        "vec_id long, embedding array<float>",
    )
    cents, sizes = kmeans_train(df, k=3, n_iter=2)
    assert sizes == [2, 0, 1]
    assert cents[0] == [0.0, 0.0]
    assert cents[1] == [0.0, 0.0]  # empty: kept the init centroid
    assert cents[2] == [10.0, 10.0]
    again, _ = kmeans_train(df, k=3, n_iter=2)
    assert again == cents


def test_covariance_matches_numpy_and_is_layout_invariant(spark):
    """Quantized covariance ≈ numpy's population covariance (within the
    1e-6 quantization), and the exact-int path returns IDENTICAL bytes
    at any partition layout."""
    import numpy as np

    from oshdb_spark.ops.stats import covariance_df

    rng = np.random.RandomState(7)
    x = rng.randn(120, 5).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(len(x))],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_df(df, dim=5).collect()
    }
    ref = np.cov(x.astype(np.float64).T, bias=True)
    for i in range(5):
        for j in range(5):
            assert abs(got[(i, j)] - ref[i][j]) < 5e-6, (i, j)
    re = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_df(df.repartition(13), dim=5).collect()
    }
    assert re == got


def test_power_iteration_finds_top_component():
    import numpy as np

    from oshdb_spark.ops.stats import power_iteration

    rng = np.random.RandomState(3)
    a = rng.randn(6, 6)
    c = (a @ a.T).tolist()  # symmetric PSD with a clear top eigenvalue
    v, eig = power_iteration(c, iters=40)
    w, vecs = np.linalg.eigh(np.asarray(c))
    top = vecs[:, -1]
    cos = abs(float(np.dot(v, top)) / np.linalg.norm(v))
    assert cos > 0.9999
    assert abs(eig - w[-1]) < 1e-3 * max(1.0, abs(w[-1]))


def test_ivf_trained_returns_k(spark):
    from oshdb_spark.ops.similarity import ivf_ann

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    rows = ivf_ann(emb, q, k=5, n_centroids=8, n_probe=4, train_iters=2).collect()
    assert len(rows) == 5
    assert rows[0].vec_id == 0


def test_embedding_neardup_self_join(spark):
    from oshdb_spark.ops.dedup import embedding_neardup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dup = emb.unionAll(emb.withColumn("vec_id", F.col("vec_id") + 10000))
    pairs = embedding_neardup_pairs(dup, threshold=0.999999).collect()
    clones = {(r.id_a, r.id_b) for r in pairs if r.id_b == r.id_a + 10000}
    assert len(clones) == emb.count()


def test_media_stub_contract(spark):
    from oshdb_spark.ops.media import attach_media, media_metadata

    d = attach_media(_docs(spark))
    with pytest.raises(NotImplementedError):
        media_metadata(d, decoder="real")
    meta = media_metadata(d).collect()
    assert len(meta) == _docs(spark).count()
    assert all(r.n_bytes > 0 and 1 <= r.width <= 640 for r in meta)


def test_token_count_matches_python(spark):
    from oshdb_spark.ops.textstats import with_token_count

    rows = with_token_count(_docs(spark)).select("text", "token_count").head(20)
    for r in rows:
        assert r.token_count == len(r.text.split(" "))


def test_lsh_neardup_pairs_equals_bruteforce(spark):
    """Bucketed pairwise dedup == brute-force on the clone corpus (recall
    1.0 at threshold→1: identical vectors always share their home bucket),
    and the plan contains NO cartesian product."""
    from oshdb_spark.ops.dedup import embedding_neardup_pairs, lsh_neardup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dup = emb.unionAll(emb.withColumn("vec_id", F.col("vec_id") + 10000))
    fast = lsh_neardup_pairs(dup, threshold=0.999999, dim=64)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = {(r.id_a, r.id_b) for r in fast.collect()}
    want = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(dup, threshold=0.999999).collect()
    }
    assert got == want and len(got) == emb.count()


def test_tdigest_quantiles_accuracy(spark):
    """Mergeable t-digest (estimatedQuantile parity): rank error of the
    estimate vs the exact distribution is within the sketch bound."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    from oshdb_spark.ops.sketches import tdigest_quantiles

    out = tdigest_quantiles(
        li, "l_extendedprice", [0.1, 0.5, 0.9], by="l_returnflag"
    ).collect()
    vals_by = {
        r.l_returnflag: sorted(
            x.l_extendedprice for x in li.select("l_returnflag", "l_extendedprice")
            .filter(F.col("l_returnflag") == r.l_returnflag).collect()
        )
        for r in li.select("l_returnflag").distinct().collect()
    }
    assert {r.grp for r in out} == set(vals_by)
    for r in out:
        vals = vals_by[r.grp]
        import bisect

        rank = bisect.bisect_left(vals, r.value) / len(vals)
        assert abs(rank - r.q) < 0.02, (r.grp, r.q, r.value, rank)


def test_tdigest_merge_associativity():
    import numpy as np

    from oshdb_spark.ops.sketches import (
        digest_of, digest_quantile, merge_digests,
    )

    rng = np.arange(10000, dtype=float) ** 1.5  # skewed, deterministic
    whole = digest_of(rng)
    parts = merge_digests([digest_of(rng[i::7]) for i in range(7)])
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        a = digest_quantile(*whole, q)
        b = digest_quantile(*parts, q)
        exact = float(np.quantile(rng, q))
        spread = rng[-1] - rng[0]
        assert abs(a - exact) / spread < 0.01
        assert abs(b - exact) / spread < 0.01


def test_semantic_dedup_blobs(spark):
    """SemDeDup over 3 separated blobs with planted near-clones: pairs
    stay within their k-means cluster, every planted clone pair is found,
    and the keep-set drops exactly the higher-id clone of each pair."""
    import numpy as np

    from oshdb_spark.ops.clustering import kmeans_train
    from oshdb_spark.ops.dedup import semantic_dedup_keep, semantic_dedup_pairs

    rng = np.random.default_rng(11)
    blobs = [(0.0, 0.0, 0.0), (100.0, 0.0, 0.0), (0.0, 100.0, 0.0)]
    rows = []
    for b, c in enumerate(blobs):
        for j in range(12):
            v = rng.normal(c, 1.0)
            rows.append((b + 3 * j, [float(x) for x in v]))
    # planted clones: tiny perturbation of ids 0..2 (cosine ≈ 1)
    base = {vid: v for vid, v in rows}
    for b in range(3):
        rows.append((1000 + b, [x * 1.000001 for x in base[b]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents, _ = kmeans_train(df, k=3, n_iter=2)
    pairs = semantic_dedup_pairs(df, cents, threshold=0.9999).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert {(0, 1000), (1, 1001), (2, 1002)} <= got
    # scale-shape invariant: a pair never crosses clusters (candidate
    # generation is the cluster join)
    assign = {
        r.vec_id: r.cluster
        for r in __import__("oshdb_spark.ops.clustering", fromlist=["kmeans_assign"])
        .kmeans_assign(df, cents).collect()
    }
    assert all(assign[a] == assign[b] for a, b in got)
    kept = {r.vec_id for r in semantic_dedup_keep(df, cents, threshold=0.9999).collect()}
    dropped = {b for _, b in got}
    assert kept == {vid for vid, _ in rows} - dropped


def test_deterministic_sample_properties(spark):
    """Hash-based sampling: rate accuracy within binomial bounds,
    re-run determinism, salt independence, stratified thresholds, and
    reshard stability (membership survives repartition)."""
    from oshdb_spark.ops.sampling import deterministic_sample, rate_threshold

    df = spark.range(20_000).select(F.col("id").alias("doc_id"))
    kept = deterministic_sample(df, rate=0.3)
    n = kept.count()
    assert abs(n - 6000) < 5 * (20_000 * 0.3 * 0.7) ** 0.5
    # deterministic: same ids both runs, and stable under resharding
    ids1 = {r[0] for r in kept.collect()}
    ids2 = {r[0] for r in deterministic_sample(
        df.repartition(7), rate=0.3).collect()}
    assert ids1 == ids2
    # disjoint salts draw (near-)independently: overlap ≈ rate²·N
    ids_b = {r[0] for r in deterministic_sample(df, rate=0.3, salt="b").collect()}
    overlap = len(ids1 & ids_b)
    assert abs(overlap - 1800) < 5 * (20_000 * 0.09 * 0.91) ** 0.5
    # boundary rates
    assert deterministic_sample(df, rate=0.0).count() == 0
    assert deterministic_sample(df, rate=1.0).count() == 20_000
    # stratified: per-group rates apply
    d2 = df.withColumn("grp", F.expr("CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END"))
    s = deterministic_sample(d2, by="grp", rates={"a": 0.8}, default_rate=0.1)
    got = {r["grp"]: r["n"] for r in s.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert abs(got["a"] - 8000) < 5 * (10_000 * 0.8 * 0.2) ** 0.5
    assert abs(got["b"] - 1000) < 5 * (10_000 * 0.1 * 0.9) ** 0.5
    # threshold quantization is exact at the ends
    assert rate_threshold(0.0) == "0" * 32
    import pytest as _pt
    with _pt.raises(ValueError):
        rate_threshold(1.5)


def test_with_repetition_signals(spark):
    """Gopher-style repetition signals: a degenerate looping doc scores
    high on both; diverse text scores 0 duplicate bigrams; the max-run
    fold equals the true top-bigram frequency."""
    from oshdb_spark.ops.textstats import with_repetition

    rows = [
        (1, "spam spam spam spam spam"),          # one bigram repeated 4×
        (2, "a b c d e f"),                        # all bigrams distinct
        (3, "x y x y x y"),                        # 'x y'×3, 'y x'×2
        (4, "single"),                             # no bigrams
    ]
    d = {r["doc_id"]: r for r in with_repetition(
        spark.createDataFrame(rows, "doc_id long, text string")
    ).collect()}
    assert abs(d[1]["dup_2gram_frac"] - 0.75) < 1e-9      # 1 distinct / 4
    assert abs(d[1]["top_2gram_cover"] - 1.0) < 1e-9
    assert d[2]["dup_2gram_frac"] == 0.0
    assert abs(d[2]["top_2gram_cover"] - 0.2) < 1e-9      # 1 / 5
    assert abs(d[3]["dup_2gram_frac"] - 0.6) < 1e-9       # 1 - 2/5
    assert abs(d[3]["top_2gram_cover"] - 0.6) < 1e-9      # 3 / 5
    assert d[4]["dup_2gram_frac"] == 0.0 and d[4]["top_2gram_cover"] == 0.0


def test_chunk_plan_layout(spark):
    """Packing plan: offsets are the exact cumulative layout, straddling
    docs span the right chunk count, zero-token docs occupy no span."""
    from oshdb_spark.ops.textstats import chunk_plan

    rows = [(1, 100), (2, 400), (3, 50), (4, 0), (5, 2000)]
    d = spark.createDataFrame(rows, "doc_id long, token_count long")
    got = {r["doc_id"]: r for r in chunk_plan(d, budget=512).collect()}
    assert [got[i]["token_offset"] for i in (1, 2, 3, 4, 5)] == [
        0, 100, 500, 550, 550]
    # doc 2 (offset 100, 400 tokens) fits inside chunk 0
    assert got[2]["first_chunk"] == 0 and got[2]["n_chunks"] == 1
    # doc 3 straddles the 512 boundary → chunks 0..1
    assert got[3]["first_chunk"] == 0 and got[3]["n_chunks"] == 2
    assert got[4]["n_chunks"] == 0
    # doc 5: offset 550, ends 2550 → chunks 1..4
    assert got[5]["first_chunk"] == 1 and got[5]["n_chunks"] == 4


def test_chunk_plan_cross_partition_prefix_sum(spark):
    """The two-pass prefix sum must equal the single-sequence layout
    across many range partitions (the scalable-window correctness)."""
    import numpy as np

    from oshdb_spark.ops.textstats import chunk_plan

    rng = np.random.default_rng(3)
    toks = rng.integers(0, 300, 5000)
    d = spark.createDataFrame(
        [(i, int(t)) for i, t in enumerate(toks)],
        "doc_id long, token_count long",
    ).repartition(16)
    got = {r["doc_id"]: r["token_offset"]
           for r in chunk_plan(d, budget=512).collect()}
    expect = np.concatenate([[0], np.cumsum(toks)[:-1]])
    assert all(got[i] == int(expect[i]) for i in range(len(toks)))


def test_diversity_sample_caps_clusters(spark):
    """Cluster quota: a head-heavy corpus (one dominant blob) is capped
    at the quota while small clusters survive whole; re-run identical."""
    import numpy as np

    from oshdb_spark.ops.clustering import kmeans_train
    from oshdb_spark.ops.sampling import diversity_sample

    rng = np.random.default_rng(2)
    rows = []
    # blob 0: 200 vectors; blob 1: 5; blob 2: 8 (interleaved ids for init)
    sizes = [200, 5, 8]
    blobs = [(0.0, 0.0), (100.0, 0.0), (0.0, 100.0)]
    i = 0
    for b, (cx, cy) in enumerate(blobs):
        for j in range(sizes[b]):
            v = rng.normal((cx, cy), 1.0)
            rows.append((b + 3 * j if j < 5 else 100 + i, [float(v[0]), float(v[1])]))
            i += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents, _ = kmeans_train(df, k=3, n_iter=2)
    got = diversity_sample(df, cents, quota=10).groupBy("cluster").count().collect()
    counts = sorted(r["count"] for r in got)
    assert counts == [5, 8, 10]
    a = sorted(r["vec_id"] for r in diversity_sample(df, cents, quota=10).collect())
    b = sorted(r["vec_id"] for r in diversity_sample(
        df.repartition(5), cents, quota=10).collect())
    assert a == b


def test_contamination_any_ngram_overlap(spark):
    """The any-3-gram rule: a train doc sharing one trigram with the
    benchmark is contaminated; distinct-counting (repeats count once);
    short docs fall back to whole-text grams."""
    from oshdb_spark.ops.curation import contamination

    train = spark.createDataFrame(
        [
            (1, "a b c d e"),        # shares 'a b c' with bench
            (2, "x y z w"),          # clean
            (3, "a b c a b c x"),    # repeated shared trigram: 1 hit
            (4, "a b"),              # <3 words: whole-text gram
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "q q a b c q"), (101, "a b")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["ngrams"], r["hits"])
        for r in contamination(train, bench, n=3).collect()
    }
    # doc 1: trigrams {abc,bcd,cde} → 1 hit; doc 3: distinct trigrams
    # {abc,bca,cab,bcx} wait — 'a b c a b c x': abc,bca,cab,abc,bcx →
    # distinct {abc,bca,cab,bcx} → 1 hit
    assert got[1] == (3, 1)
    assert got[2] == (2, 0)
    assert got[3] == (4, 1)
    assert got[4] == (1, 1)  # whole text 'a b' matches bench doc 101


def test_pattern_scan_counts(spark):
    from oshdb_spark.ops.curation import pattern_scan

    df = spark.createDataFrame(
        [(1, "key table 12 scan 3x4 none")], "doc_id long, text string"
    )
    r = pattern_scan(df, {"kw": "(key|table|scan)", "num": "[0-9]+"}).collect()[0]
    assert r["kw_n"] == 3
    assert r["num_n"] == 3  # 12, 3, 4


def test_redact_counts_and_bytes(spark):
    """Counts come from the ORIGINAL text (so a replacement that would
    re-match a later pattern doesn't inflate it), replacements apply in
    sorted pattern-name order, and the output bytes equal Python re's
    sequential replace."""
    import re

    from oshdb_spark.ops.curation import redact

    rows = [
        (1, "mail a.b@x.io and c@y.org ph 555-1234"),
        (2, "no pii here 42"),
        (3, "z@z.zz z@z.zz"),
    ]
    pats = {
        "email": ("[a-z.]+@[a-z.]+", "<EMAIL>"),
        "phone": ("[0-9]{3}-[0-9]{4}", "<PHONE>"),
    }
    got = {
        r["doc_id"]: r
        for r in redact(
            spark.createDataFrame(rows, "doc_id long, text string"), pats
        ).collect()
    }
    for doc_id, text in rows:
        exp = text
        for _, (p, rep) in sorted(pats.items()):
            exp = re.sub(p, rep, exp)
        assert got[doc_id]["text_redacted"] == exp
        assert got[doc_id]["email_n"] == len(re.findall(pats["email"][0], text))
        assert got[doc_id]["phone_n"] == len(re.findall(pats["phone"][0], text))


def test_source_mix_rates_properties():
    """α<1 flattens: dominant sources downsample harder; tiny sources
    cap at rate 1; rates are 6-decimal quantized."""
    from oshdb_spark.ops.curation import source_mix_rates

    rates = source_mix_rates({"big": 10000, "small": 10}, alpha=0.5, target=500)
    assert rates["small"] == 1.0
    assert 0 < rates["big"] < 0.06
    assert rates["big"] == round(rates["big"], 6)
    # α=1 reproduces proportional sampling: equal rates
    prop = source_mix_rates({"a": 100, "b": 300}, alpha=1.0, target=200)
    assert prop["a"] == prop["b"] == 0.5


def test_source_mix_sample_deterministic(spark):
    from oshdb_spark.ops.curation import source_mix_sample

    rows = [(i, "s%d" % (i % 3)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    a = sorted(r["doc_id"] for r in source_mix_sample(df, 0.7, 150).collect())
    b = sorted(
        r["doc_id"]
        for r in source_mix_sample(df.repartition(7), 0.7, 150).collect()
    )
    assert a == b and 100 < len(a) < 200


def test_knn_join_matches_per_query_bruteforce(spark):
    # every query's rows must equal the single-query exact top-k, and the
    # result must be layout-independent (per-batch local top-k uses the
    # exact global order)
    from oshdb_spark.ops.similarity import cosine_topk, knn_join

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter("vec_id < 4")
    out = knn_join(emb, queries, k=5).collect()
    assert len(out) == 4 * 5
    by_q = {}
    for r in out:
        by_q.setdefault(r.qid, []).append((r.rank, r.nbr_id))
    for qid, rows in by_q.items():
        qv = [
            float(x)
            for x in emb.filter(f"vec_id = {qid}").head()["embedding"]
        ]
        exact = [r.vec_id for r in cosine_topk(emb, qv, k=5).collect()]
        assert [nid for _, nid in sorted(rows)] == exact

    out16 = knn_join(emb.repartition(16), queries, k=5).collect()
    assert sorted((r.qid, r.rank, r.nbr_id) for r in out16) == sorted(
        (r.qid, r.rank, r.nbr_id) for r in out
    )


def test_bm25_ranks_term_dense_docs(spark):
    from oshdb_spark.ops.textstats import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark fast"),
            (2, "spark slow"),
            (3, "other words entirely"),
            (4, "spark " + "filler " * 50),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.score for r in bm25_scores(docs, ["spark"]).collect()}
    assert set(out) == {1, 2, 4}  # doc 3 matches no term → excluded
    # higher tf wins; length normalization pushes the long doc below the
    # short one at equal tf
    assert out[1] > out[2] > out[4]
    assert all(s > 0 for s in out.values())


def test_bm25_multi_term_additivity(spark):
    from oshdb_spark.ops.textstats import bm25_scores

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a c"), (3, "b c"), (4, "c c")],
        "doc_id long, text string",
    )
    single_a = {r.doc_id: r.score for r in bm25_scores(docs, ["a"]).collect()}
    single_b = {r.doc_id: r.score for r in bm25_scores(docs, ["b"]).collect()}
    both = {r.doc_id: r.score for r in bm25_scores(docs, ["a", "b"]).collect()}
    # doc 1 contains both terms: its two-term score is the sum of the
    # single-term scores (BM25 is additive over query terms)
    assert both[1] == pytest.approx(single_a[1] + single_b[1])
    assert set(both) == {1, 2, 3}


def test_media_resize_and_features_compose_with_ann(spark):
    # resize: constant output size incl. the empty-blob edge; features:
    # fixed dim, deterministic, and the output column plugs straight into
    # the ANN family (knn_join over media-derived vectors)
    from oshdb_spark.ops.media import (
        attach_media,
        extract_features,
        resize_media,
    )
    from oshdb_spark.ops.similarity import knn_join
    import pytest as _pt

    docs = spark.createDataFrame(
        [(1, "some words here"), (2, ""), (3, "x")],
        "doc_id long, text string",
    )
    d = attach_media(docs)
    rz = {r.doc_id: r.resized for r in resize_media(d, target_bytes=64).collect()}
    assert all(len(v) == 64 for v in rz.values())
    assert rz[2] == b"\x00" * 64
    assert rz[3] == b"x" * 64

    with _pt.raises(NotImplementedError):
        resize_media(d, resizer="real").collect()
    with _pt.raises(NotImplementedError):
        extract_features(d, extractor="real").collect()

    corpus = extract_features(attach_media(_docs(spark)), dim=8).withColumnRenamed(
        "features", "embedding"
    )
    queries = corpus.filter("doc_id < 2")
    out = knn_join(corpus, queries, k=3, id_col="doc_id", query_id_col="doc_id")
    rows = out.collect()
    assert len(rows) == 2 * 3
    # a vector's nearest neighbour by cosine is itself (rank-1 cosine 1.0)
    for r in rows:
        if r.rank == 1:
            assert r.cosine == _pt.approx(1.0)


def test_pq_ann_recall_and_self_match(spark):
    # PQ is approximate: assert the mechanism (query's own vector always
    # survives — its codes minimize its own ADC entries) and useful recall
    # vs the exact top-k on this corpus
    from oshdb_spark.ops.similarity import cosine_topk, pq_ann

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    exact = {r.vec_id for r in cosine_topk(emb, q, k=10).collect()}
    got = [r.vec_id for r in pq_ann(emb, q, k=10, m=4, n_codes=16).collect()]
    assert len(got) == 10
    assert 0 in got
    assert len(exact & set(got)) >= 2


def test_chunk_windows_shapes(spark):
    from oshdb_spark.ops.textstats import chunk_windows

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(80))),  # 80 tokens
            (2, "a b c"),  # shorter than one window
            (3, " ".join(f"x{i}" for i in range(32))),  # exactly one window
        ],
        "doc_id long, text string",
    )
    out = chunk_windows(docs, window=32, stride=24).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: starts 0, 24, 48 → windows 32, 32, 32
    d1 = sorted(by_doc[1], key=lambda r: r.win_idx)
    assert [(r.win_start, r.n_tokens) for r in d1] == [
        (0, 32), (24, 32), (48, 32)
    ]
    assert d1[0].chunk.startswith("w0 ") and d1[1].chunk.startswith("w24 ")
    # adjacent windows overlap by window - stride = 8 tokens
    assert d1[0].chunk.split()[-8:] == d1[1].chunk.split()[:8]
    # doc 2: single short window
    assert [(r.win_start, r.n_tokens) for r in by_doc[2]] == [(0, 3)]
    # doc 3: exactly one full window
    assert [(r.win_start, r.n_tokens) for r in by_doc[3]] == [(0, 32)]


def test_heavy_hitters_guarantee_and_exact_mode(spark):
    import random

    from oshdb_spark.ops.sketches import heavy_hitters

    rng = random.Random(11)
    # zipf-ish: item i appears ~ N/(i+1) times
    rows = []
    for i in range(40):
        rows += [(f"item{i:02d}",)] * (2000 // (i + 1))
    rng.shuffle(rows)
    n = len(rows)
    df = spark.createDataFrame(rows, "w string").repartition(8)
    true = {}
    for (w,) in rows:
        true[w] = true.get(w, 0) + 1

    # approximate mode: tight capacity
    cap = 12
    got = heavy_hitters(df, "w", k=8, capacity=cap).collect()
    assert 0 < len(got) <= 8
    err = got[0].max_err
    assert all(r.max_err == err for r in got)
    for r in got:
        # MG guarantee: est <= true <= est + max_err
        assert r.est_count <= true[r.item] <= r.est_count + err
    # anything truly frequent beyond the error bound must be reported
    reported = {r.item for r in got}
    top_est = sorted(true.values(), reverse=True)[7]
    for w, c in true.items():
        if c - err > top_est:
            assert w in reported

    # exact mode: capacity >= distinct items → zero error, exact counts
    exact = heavy_hitters(df, "w", k=5, capacity=1000).collect()
    assert [r.max_err for r in exact] == [0] * 5
    want = sorted(true.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(r.item, r.est_count) for r in exact] == want

    # layout independence in exact mode
    exact1 = heavy_hitters(df.repartition(1), "w", k=5, capacity=1000).collect()
    assert [(r.item, r.est_count) for r in exact1] == want


def _py_phash(buf: bytes, bits: int = 16) -> int:
    import numpy as np

    b = np.frombuffer(buf, dtype=np.uint8)
    n = len(b)
    if n == 0:
        return 0
    cs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(b, dtype=np.int64, out=cs[1:])
    mu = cs[n] / n
    js = np.arange(bits, dtype=np.int64)
    lo, hi = js * n // bits, (js + 1) * n // bits
    means = (cs[hi] - cs[lo]) / np.maximum(hi - lo, 1)
    return int(((means > mu).astype(np.int64) << js).sum())


def test_phash_matches_reference_and_is_block_local(spark):
    """Kernel == pure-python block-mean hash on the real corpus; a
    byte-local edit flips at most the bits of the touched blocks."""
    from oshdb_spark.ops.media import attach_media, with_phash

    d = attach_media(_docs(spark))
    rows = with_phash(d).collect()
    texts = {r.doc_id: r.text for r in _docs(spark).collect()}
    assert len(rows) == len(texts)
    for r in rows:
        assert r.phash == _py_phash(texts[r.doc_id].encode("utf-8"))

    # single-byte edit in the middle: ≤ 2 block-mean bits can flip from
    # the block term (the global-mean shift can nudge borderline blocks,
    # so assert a loose-but-meaningful radius)
    base = ("a" * 37 + "m" + "z" * 26).encode()
    edit = ("a" * 37 + "n" + "z" * 26).encode()
    assert bin(_py_phash(base) ^ _py_phash(edit)).count("1") <= 4


def test_phash_banding_equals_bruteforce(spark):
    """Hamming banding (d+1 blocks, pigeonhole) finds EXACTLY the
    brute-force pair set — and the plan has no cartesian product."""
    from itertools import combinations

    from oshdb_spark.ops.media import attach_media, phash_neardup_pairs

    docs = _docs(spark).limit(150)
    pairs_df = phash_neardup_pairs(attach_media(docs), max_hamming=3)
    plan = pairs_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = {(r.id_a, r.id_b): r.hamming for r in pairs_df.collect()}

    hashes = {
        r.doc_id: _py_phash(r.text.encode("utf-8")) for r in docs.collect()
    }
    want = {}
    for a, b in combinations(sorted(hashes), 2):
        h = bin(hashes[a] ^ hashes[b]).count("1")
        if h <= 3:
            want[(a, b)] = h
    assert got == want and len(want) > 0


def test_phash_banding_64bit_sign_safe(spark):
    """At bits=64 the hash's top bit makes it NEGATIVE as a BIGINT; the
    mask-based band keys must still find exactly the brute-force pair
    set (a sign-carrying % would silently drop pairs)."""
    from itertools import combinations

    from oshdb_spark.ops.media import attach_media, phash_neardup_pairs

    docs = _docs(spark).limit(150)
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_neardup_pairs(
            attach_media(docs), max_hamming=3, bits=64
        ).collect()
    }

    hashes = {
        r.doc_id: _py_phash(r.text.encode("utf-8"), bits=64)
        for r in docs.collect()
    }
    # the scenario under test requires negative (bit-63-set) hashes
    neg = [h for h in hashes.values() if h < 0 or h >= 1 << 63]
    assert len(neg) > 0
    want = {}
    for a, b in combinations(sorted(hashes), 2):
        h = bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
        if h <= 3:
            want[(a, b)] = h
    assert got == want


def test_simhash_banding_64bit_sign_safe(spark):
    """Same sign-safety property for the text SimHash banding at
    bits=64: banding == brute force over the collected hashes."""
    from itertools import combinations

    from oshdb_spark.ops.dedup import simhash_neardup_pairs, with_simhash

    docs = _docs(spark).limit(120)
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_neardup_pairs(docs, max_hamming=3, bits=64).collect()
    }

    hashes = {
        r.doc_id: r.simhash
        for r in with_simhash(
            docs.select("doc_id", "text"), bits=64
        ).collect()
    }
    assert any(h < 0 for h in hashes.values())
    want = {}
    for a, b in combinations(sorted(hashes), 2):
        h = bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
        if h <= 3:
            want[(a, b)] = h
    assert got == want


def test_duplicate_spans_alignment_independent(spark):
    """The winnowing guarantee: a token run of length >= window+winnow-1
    (= 11 at defaults 8/4) shared at DIFFERENT offsets must yield at
    least one common fingerprint; disjoint docs must yield none."""
    from oshdb_spark.ops.dedup import duplicate_spans, with_dup_span_stats

    run = " ".join(f"r{i}" for i in range(11))  # 11 shared tokens
    docs = [
        (0, "a1 a2 a3 " + run + " a4 a5"),         # run at offset 3
        (1, "b1 " + run + " b2 b3 b4 b5 b6 b7"),   # run at offset 1
        (2, " ".join(f"c{i}" for i in range(20))),  # disjoint control
        (3, "short doc"),                           # < window tokens
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    dup = duplicate_spans(df).collect()
    assert len(dup) >= 1
    assert all(r.n_docs == 2 and r.keep_id == 0 for r in dup)
    stats = {r.doc_id: r for r in with_dup_span_stats(df).collect()}
    assert stats[0].dup_fp >= 1 and stats[1].dup_fp >= 1
    assert stats[2].dup_fp == 0 and stats[2].n_fp > 0
    assert stats[3].n_fp == 0 and stats[3].dup_frac == 0.0
    # 10 shared tokens (one below the guarantee) may or may not collide;
    # 11 must, at EVERY offset pair — sweep offsets to prove alignment
    # independence rather than one lucky pair
    for off_a in (0, 1, 2, 3):
        for off_b in (0, 2, 5):
            pad_a = " ".join(f"x{i}" for i in range(off_a))
            pad_b = " ".join(f"y{i}" for i in range(off_b))
            d2 = spark.createDataFrame(
                [
                    (10, (pad_a + " " + run).strip()),
                    (11, (pad_b + " " + run + " z1 z2").strip()),
                ],
                "doc_id long, text string",
            )
            assert duplicate_spans(d2).count() >= 1, (off_a, off_b)


def test_int8_quantization_roundtrip_and_recall(spark):
    import numpy as np

    from oshdb_spark.ops.similarity import cosine_topk, int8_topk, with_int8

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = with_int8(emb).select("vec_id", "embedding", "q8", "q8_scale") \
        .limit(50).collect()
    for r in rows:
        e = np.asarray(r["embedding"], dtype=np.float64)
        q = np.asarray(r["q8"], dtype=np.float64)
        s = r["q8_scale"]
        assert np.abs(q).max() <= 127
        # dequantization error bounded by scale/2 per dimension
        assert np.abs(q * s - e).max() <= s / 2 + 1e-12
        # codes replay exactly from the definition
        expect = np.floor(np.abs(e / s) + 0.5) * np.sign(e)
        assert np.array_equal(q, expect)

    qvec = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    exact = [r["vec_id"] for r in cosine_topk(emb, qvec, k=10).collect()]
    quant = [r["vec_id"] for r in int8_topk(emb, qvec, k=10).collect()]
    # int8 at dim 64 keeps near-perfect ranking
    assert len(set(exact) & set(quant)) >= 8
    assert quant[0] == 0  # self-match survives quantization


def test_int8_zero_vector_safe(spark):
    from oshdb_spark.ops.similarity import with_int8

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in with_int8(df).collect()}
    assert out[1]["q8"] == [0, 0, 0] and out[1]["q8_scale"] == 1.0
    assert out[2]["q8"][1] == -127


def test_tdigest_tile_pyramid_cascade(spark):
    """The zoom-2 digests (merged from zoom-4 children, rows never
    re-read) must carry exact counts and medians close to the exact
    per-tile percentile at EVERY level — including under forced
    compression (delta=50 << rows per tile)."""
    import numpy as np
    from pyspark.sql import functions as F

    from oshdb_spark.ops.sketches import tdigest_tile_pyramid

    rng = np.random.default_rng(9)
    n = 20_000
    rows = [
        (
            int(rng.integers(-1_799_000_000, 1_799_000_000)),
            int(rng.integers(-849_000_000, 849_000_000)),
            float(rng.lognormal(3.0, 1.0)),
        )
        for _ in range(n)
    ]
    df = spark.createDataFrame(rows, "lon7 long, lat7 long, value double")
    out = tdigest_tile_pyramid(
        df, "value", "lon7", "lat7", zooms=(4, 2), qs=(0.5,), delta=50
    ).collect()

    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["lon7", "lat7", "value"])
    for zoom, width in ((4, 225_000_000), (2, 900_000_000)):
        cols = 1 << zoom
        pdf[f"c{zoom}"] = (
            (pdf.lat7 + 900_000_000) // width * cols
            + (pdf.lon7 + 1_800_000_000) // width
        )
    got = {(r["zoom"], r["cell"]): (r["n"], r["value"]) for r in out}
    assert len(got) == pdf["c4"].nunique() + pdf["c2"].nunique()
    for zoom in (4, 2):
        for cell, sub in pdf.groupby(f"c{zoom}"):
            gn, gv = got[(zoom, int(cell))]
            assert gn == len(sub)  # weights survive the merge exactly
            exact = float(np.percentile(sub["value"], 50))
            assert abs(gv - exact) <= 0.05 * abs(exact) + 1e-9, (zoom, cell)


def test_hll_tile_pyramid_cascade(spark):
    """Union-merged parent sketches must estimate the parent tile's true
    distinct count within HLL error — exercised ABOVE the sparse-mode
    threshold so the dense estimator and the union path are both hit."""
    import numpy as np
    from pyspark.sql import functions as F

    from oshdb_spark.ops.sketches import hll_tile_pyramid

    rng = np.random.default_rng(3)
    n = 60_000
    rows = [
        (
            int(rng.integers(-1_799_000_000, 1_799_000_000)),
            int(rng.integers(-849_000_000, 849_000_000)),
            int(rng.integers(0, 40_000)),  # ~40k distinct overall
        )
        for _ in range(n)
    ]
    df = spark.createDataFrame(rows, "lon7 long, lat7 long, item long")
    out = hll_tile_pyramid(df, "item", "lon7", "lat7", zooms=(2, 0)).collect()

    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["lon7", "lat7", "item"])
    for zoom, width in ((2, 900_000_000), (0, 3_600_000_000)):
        cols = 1 << zoom
        pdf[f"c{zoom}"] = (
            (pdf.lat7 + 900_000_000) // width * cols
            + (pdf.lon7 + 1_800_000_000) // width
        )
    got = {(r["zoom"], r["cell"]): r["uniq_est"] for r in out}
    for zoom in (2, 0):
        for cell, sub in pdf.groupby(f"c{zoom}"):
            exact = sub["item"].nunique()
            est = got[(zoom, int(cell))]
            assert abs(est - exact) <= max(0.05 * exact, 1), (zoom, cell, est, exact)


def test_incremental_dedup_stored_index_parity(spark, tmp_path):
    """The production path: build the CorpusIndex once, persist it to
    parquet, and classify the delta against the READ-BACK artifacts —
    output identical to recomputing from the raw corpus."""
    from oshdb_spark.ops.dedup import (
        CorpusIndex,
        build_corpus_index,
        incremental_dedup,
    )

    docs = _docs(spark).select("doc_id", "text")
    corpus = docs.filter("doc_id % 2 = 0")
    delta = docs.filter("doc_id % 2 = 1").unionAll(
        corpus.filter("doc_id % 4 = 0").selectExpr(
            "doc_id + 5000 AS doc_id", "text"
        )
    )
    live = sorted(
        tuple(r) for r in incremental_dedup(delta, corpus).collect()
    )

    idx = build_corpus_index(corpus)
    base = str(tmp_path / "index")
    idx.fingerprints.write.parquet(f"{base}/fp")
    idx.bands.write.parquet(f"{base}/bands")
    idx.shingles.write.parquet(f"{base}/shingles")
    stored = CorpusIndex(
        fingerprints=spark.read.parquet(f"{base}/fp"),
        bands=spark.read.parquet(f"{base}/bands"),
        shingles=spark.read.parquet(f"{base}/shingles"),
    )
    replay = sorted(
        tuple(r)
        for r in incremental_dedup(delta, index=stored).collect()
    )
    assert replay == live
    assert any(r[1] == "exact" for r in live)

    with pytest.raises(ValueError):
        incremental_dedup(delta)
    with pytest.raises(ValueError):
        incremental_dedup(delta, corpus, index=stored)


def test_bloom_prefilter_contract(spark):
    """Bloom guarantee: NO false negatives (every corpus member is a
    candidate); false positives exist but stay far below the pass-all
    degenerate case at this load factor."""
    from oshdb_spark.ops.bloom import bloom_bitmap, bloom_member

    d = _docs(spark).select("doc_id", "text")
    corpus = d.filter("doc_id % 2 = 0").selectExpr("md5(text) AS fp")
    n_corpus = corpus.count()
    bm = bloom_bitmap(corpus, "fp", n_bits=4096, n_hashes=3)
    assert len(bm) == 64 and any(bm)

    members = corpus.withColumn("c", bloom_member("fp", bm, 3))
    assert members.filter("NOT c").count() == 0  # no false negatives

    absent = d.filter("doc_id % 2 = 1").selectExpr(
        "md5(concat(text, ' definitely-not-in-corpus')) AS fp"
    )
    fp_rate = (
        absent.withColumn("c", bloom_member("fp", bm, 3))
        .selectExpr("avg(CASE WHEN c THEN 1.0 ELSE 0.0 END) r")
        .head()["r"]
    )
    # theoretical (1 - e^{-kn/m})^k at n≈250, m=4096, k=3 is ~0.5%; allow
    # generous slack — the contract under test is "a useful prefilter",
    # not an exact rate
    assert fp_rate < 0.2, (fp_rate, n_corpus)


def test_cms_overestimates_never_under(spark):
    """CMS guarantee: est >= exact for every key; with m=256 and few
    hundred keys the overshoot stays small; sketches of two halves ADD
    to the sketch of the whole (mergeability)."""
    from oshdb_spark.ops.sketches import cms_estimate, cms_table

    ev = spark.read.parquet(f"{SF}/events.parquet").select("user_id")
    sk = cms_table(ev, "user_id", m=256, k=3)
    est = cms_estimate(ev.distinct(), sk, "user_id", m=256, k=3)
    exact = ev.groupBy("user_id").count()
    rows = est.join(exact, "user_id").collect()
    assert rows and all(r["est"] >= r["count"] for r in rows)
    assert sum(r["est"] - r["count"] for r in rows) <= 3 * len(rows)

    # mergeability: sketch(half1) + sketch(half2) == sketch(all)
    h1 = cms_table(ev.filter("user_id % 2 = 0"), "user_id", m=256, k=3)
    h2 = cms_table(ev.filter("user_id % 2 = 1"), "user_id", m=256, k=3)
    merged = (
        h1.unionAll(h2)
        .groupBy("row", "pos")
        .agg(F.sum("cnt").alias("cnt"))
    )
    a = sorted(tuple(r) for r in merged.collect())
    b = sorted(tuple(r) for r in sk.collect())
    assert a == b


def test_tfidf_keywords_matches_replay(spark):
    """TF-IDF top-k vs a pure-python replay incl. smoothed IDF, round-6
    score ties broken by binary token order."""
    import math

    from oshdb_spark.ops.textstats import tfidf_keywords

    docs = [
        (0, "apple banana apple cherry"),
        (1, "banana banana date"),
        (2, "apple date date date fig"),
        (3, "fig fig fig fig"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [
        (r["doc_id"], r["rank"], r["token"], r["tf"], r["doc_freq"],
         r["score"])
        for r in tfidf_keywords(df, k=2).collect()
    ]
    # replay
    tf: dict = {}
    for d, t in docs:
        for tok in t.split(" "):
            tf[(d, tok)] = tf.get((d, tok), 0) + 1
    dfreq: dict = {}
    for (d, tok) in tf:
        dfreq[tok] = dfreq.get(tok, 0) + 1
    N = len(docs)
    exp = []
    for d in range(N):
        rows = [
            (tok, c, dfreq[tok],
             round(c * math.log((N + 1) / (dfreq[tok] + 1)), 6))
            for (dd, tok), c in tf.items() if dd == d
        ]
        rows.sort(key=lambda r: (-r[3], r[0]))
        for i, (tok, c, dfq, sc) in enumerate(rows[:2]):
            exp.append((d, i + 1, tok, c, dfq, sc))
    assert sorted(got) == sorted(exp)
    # fig is unique to docs 2/3 and must headline doc 3
    top3 = [r for r in got if r[0] == 3 and r[1] == 1][0]
    assert top3[2] == "fig"


def test_canonical_url_rules(spark):
    """Hand-written messy URLs with independently stated canonical
    forms: scheme/case/www/fragment/tracking/trailing-slash variants
    collapse; kept params preserve order; two-label domain rule."""
    from oshdb_spark.ops.curation import domain_stats, with_canonical_url

    cases = [
        # (url, expected canon, expected domain)
        ("HTTP://WWW.Site.COM/a/1/?utm_source=x", "site.com/a/1",
         "site.com"),
        ("https://site.com/a/1", "site.com/a/1", "site.com"),
        ("https://site.com/a/1#frag", "site.com/a/1", "site.com"),
        ("https://site.com/a/1?ref=2&utm_campaign=z&x=1#s",
         "site.com/a/1?ref=2&x=1", "site.com"),
        ("http://blog.news.example.org/p//",
         "blog.news.example.org/p", "example.org"),
        ("site.net/q?fbclid=abc&gclid=def", "site.net/q", "site.net"),
        ("https://www.www.host.io/x", "www.host.io/x", "host.io"),
        ("http://localhost/x", "localhost/x", "localhost"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _, _) in enumerate(cases)],
        "doc_id long, url string",
    )
    got = {
        r["doc_id"]: (r["canon_url"], r["domain"])
        for r in with_canonical_url(df).collect()
    }
    for i, (u, canon, dom) in enumerate(cases):
        assert got[i] == (canon, dom), u

    # the first two (plus the fragment variant) collapse to one URL
    stats = {r["domain"]: r for r in domain_stats(df).collect()}
    sc = stats["site.com"]
    assert sc["n_docs"] == 4 and sc["n_urls"] == 2
    assert sc["n_dup_docs"] == 3  # the three 'site.com/a/1' docs


def test_split_assign_group_atomic(spark):
    """Every group lands wholly in one split; membership is
    deterministic across reshuffles; fractions hold roughly; bad
    fractions raise."""
    import pytest as _pt

    from oshdb_spark.ops.sampling import split_assign

    rows = [(i, f"g{i % 97}") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = split_assign(
        df, "grp", {"train": 0.7, "val": 0.15, "test": 0.15}
    ).collect()
    by_grp = {}
    counts = {}
    for r in out:
        by_grp.setdefault(r["grp"], set()).add(r["split"])
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    assert all(len(s) == 1 for s in by_grp.values())  # atomic groups
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] > counts["val"]
    assert counts["train"] > counts["test"]
    # repartitioned input yields identical assignment
    out2 = {
        (r["doc_id"]): r["split"]
        for r in split_assign(
            df.repartition(7), "grp",
            {"train": 0.7, "val": 0.15, "test": 0.15}
        ).collect()
    }
    assert out2 == {r["doc_id"]: r["split"] for r in out}
    with _pt.raises(ValueError):
        split_assign(df, "grp", {"train": 0.5, "val": 0.1})


def test_weighted_quantile_matches_reference(spark):
    """Exact weighted median/quantile vs a direct expansion reference
    (repeat each value weight times, take percentile_disc), including
    tie collapse, a single-row group, and an uneven q = 3/4."""
    from oshdb_spark.ops.stats import weighted_quantile

    import random

    random.seed(11)
    rows = []
    for g in ["a", "b", "c"]:
        for _ in range(60):
            rows.append((g, random.randint(0, 30), random.randint(1, 9)))
    rows.append(("solo", 42, 7))
    rows += [("ties", 5, 3), ("ties", 5, 2), ("ties", 9, 4)]
    df = spark.createDataFrame(rows, "g string, v long, w long")

    def ref(items, num, den):
        expanded = sorted(
            v for v, wt in items for _ in range(wt)
        )
        total = len(expanded)
        # smallest value whose cumulative weight reaches num/den
        cum = 0
        seen = {}
        for v, wt in sorted(items):
            seen[v] = seen.get(v, 0) + wt
        run = 0
        for v in sorted(seen):
            run += seen[v]
            if den * run >= num * total:
                return v, total
        raise AssertionError

    for num, den in [(1, 2), (3, 4)]:
        got = {
            r.g: (r.wq_value, r.total_weight)
            for r in weighted_quantile(df, "g", "v", "w", num, den).collect()
        }
        by_g = {}
        for g, v, w in rows:
            by_g.setdefault(g, []).append((v, w))
        for g, items in by_g.items():
            assert got[g] == ref(items, num, den), (g, num, den)
    assert got["solo"] == (42, 7)


def test_spearman_corr_vs_scipy_style_reference(spark):
    """Spearman vs a direct average-rank Pearson reference: perfect
    monotone (+1), perfect inverse (-1), heavy ties, independence
    (near 0), and a constant column (null)."""
    import random

    from oshdb_spark.ops.stats import spearman_corr

    random.seed(3)
    rows = []
    for i in range(50):
        rows.append(("mono", i, i * i))               # rho = 1
        rows.append(("inv", i, -3 * i + 7))           # rho = -1
        rows.append(("noise", random.randint(0, 99),
                     random.randint(0, 99)))
        rows.append(("ties", i % 5, (i // 7) % 3))
        rows.append(("const", i, 42))                 # null rho
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {r.g: (r.n, r.rho) for r in
           spearman_corr(df, "g", "x", "y").collect()}

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
                j += 1
            r = (i + j) / 2 + 1
            for k in range(i, j + 1):
                ranks[order[k]] = r
            i = j + 1
        return ranks

    by_g = {}
    for g, x, y in rows:
        by_g.setdefault(g, []).append((x, y))
    for g, pts in by_g.items():
        xs = avg_ranks([p[0] for p in pts])
        ys = avg_ranks([p[1] for p in pts])
        n = len(pts)
        mx, my = sum(xs) / n, sum(ys) / n
        vx = sum((a - mx) ** 2 for a in xs)
        vy = sum((b - my) ** 2 for b in ys)
        if vx == 0 or vy == 0:
            assert got[g][1] is None, g
            continue
        rho = sum((a - mx) * (b - my) for a, b in zip(xs, ys)) / (
            vx ** 0.5 * vy ** 0.5
        )
        assert got[g] == (n, __import__("pytest").approx(
            round(rho, 6), abs=2e-6)), g
    assert got["mono"][1] == 1.0
    assert got["inv"][1] == -1.0
    assert abs(got["noise"][1]) < 0.35


def test_ols_trend_matches_numpy(spark):
    """ols_trend vs numpy.polyfit on integer series, incl. the
    zero-variance-x and perfectly-linear edge cases."""
    import math
    import random as _r

    import numpy as np

    from oshdb_spark.ops.stats import ols_trend

    _r.seed(13)
    rows = []
    for g in range(5):
        for i in range(2 + 5 * g):
            x = i * 37 + _r.randint(0, 9)
            y = 3 * x + 100 + _r.randint(-50, 50)
            rows.append((g, x, y))
    rows += [(7, 5, 10), (7, 5, 30)]        # zero x-variance
    rows += [(8, i, 2 * i + 1) for i in range(4)]  # exact line, r2=1
    df = spark.createDataFrame(rows, "g long, x long, y long")
    got = {
        r.g: (r.n, r.slope, r.intercept, r.r2)
        for r in ols_trend(df, "g", "x", "y").collect()
    }
    import collections

    by_g = collections.defaultdict(list)
    for g, x, y in rows:
        by_g[g].append((x, y))
    for g, pts in by_g.items():
        xs = np.array([p[0] for p in pts], dtype=float)
        ys = np.array([p[1] for p in pts], dtype=float)
        n, sl, ic, r2 = got[g]
        assert n == len(pts)
        if g == 7:
            assert sl is None and ic is None and r2 is None
            continue
        a, b = np.polyfit(xs, ys, 1)
        assert math.isclose(sl, a, rel_tol=0, abs_tol=5e-6), (g, sl, a)
        assert math.isclose(ic, b, rel_tol=0, abs_tol=5e-6), (g, ic, b)
        cc = np.corrcoef(xs, ys)[0, 1] ** 2
        assert math.isclose(r2, cc, abs_tol=5e-6), (g, r2, cc)
    assert got[8][1] == 2.0 and got[8][2] == 1.0 and got[8][3] == 1.0


def test_token_pair_lift_matches_replay(spark):
    """token_pair_lift vs a python tokenize/cap/count replay incl. the
    cap boundary and the self-consistent marginals."""
    import itertools
    import math
    import re

    from oshdb_spark.ops.textstats import token_pair_lift

    docs = [
        (1, "the cat sat on the mat with the cat"),
        (2, "THE CAT ate a fish"),
        (3, "dog and cat and mat x y zz"),
        (4, "fish mat dog the"),
        (5, "numbers 123 mixed a1b2 stay out the cat"),
        (6, " ".join(f"tok{i:03d}" for i in range(60)) + " cat the"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = token_pair_lift(df, min_count=2, max_tokens_per_doc=5)
    got = {
        (r.tok_a, r.tok_b): (r.n_ab, r.n_a, r.n_b, r.lift)
        for r in out.collect()
    }
    kept = {}
    for d, text in docs:
        toks = sorted(
            {t for t in text.lower().split(" ")
             if re.fullmatch("[a-z]{3,}", t)}
        )[:5]
        if toks:
            kept[d] = toks
    D = len(kept)
    marg = {}
    for toks in kept.values():
        for t in toks:
            marg[t] = marg.get(t, 0) + 1
    want = {}
    pc = {}
    for toks in kept.values():
        for a, b in itertools.combinations(toks, 2):
            pc[(a, b)] = pc.get((a, b), 0) + 1
    for (a, b), n_ab in pc.items():
        if n_ab >= 2:
            want[(a, b)] = (
                n_ab, marg[a], marg[b],
                round(n_ab * D / (marg[a] * marg[b]), 6),
            )
    assert set(got) == set(want)
    for k in want:
        assert got[k][:3] == want[k][:3], (k, got[k], want[k])
        assert math.isclose(got[k][3], want[k][3], abs_tol=1e-9)
    # doc 6's cap kept only the 5 lexicographically smallest tokens:
    # cat/the survive (sorting before tok000); capped tokens never pair
    assert not any(a.startswith("tok0") or b.startswith("tok0")
                   for a, b in got)


def test_ztest_vs_control_formula(spark):
    """ztest_vs_control vs the textbook pooled two-proportion formula,
    incl. the zero-variance arm guard."""
    import math

    from oshdb_spark.ops.stats import ztest_vs_control

    rows = (
        [("ctl", True)] * 50 + [("ctl", False)] * 150
        + [("t1", True)] * 80 + [("t1", False)] * 120
        + [("t2", True)] * 40 + [("t2", False)] * 180
        + [("dead", False)] * 30  # pooled p=... nonzero via control
    )
    df = spark.createDataFrame(rows, "arm string, ok boolean")
    got = {r.arm: r for r in ztest_vs_control(df, "arm", "ok", "ctl").collect()}

    def zref(c1, n1, c0=50, n0=200):
        p1, p0 = c1 / n1, c0 / n0
        pp = (c1 + c0) / (n1 + n0)
        return (p1 - p0) / math.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n0))

    assert got["ctl"].z == 0.0
    assert math.isclose(got["t1"].z, zref(80, 200), abs_tol=5e-7)
    assert math.isclose(got["t2"].z, zref(40, 220), abs_tol=5e-7)
    assert math.isclose(got["dead"].z, zref(0, 30), abs_tol=5e-7)
    assert got["t1"].n == 200 and got["t1"].conv == 80
    # all-success + all-success control would zero the variance: guard
    df2 = spark.createDataFrame(
        [("c", True)] * 3 + [("x", True)] * 2, "arm string, ok boolean"
    )
    g2 = {r.arm: r.z for r in ztest_vs_control(df2, "arm", "ok", "c").collect()}
    assert g2 == {"c": 0.0, "x": None}


def test_path_ngrams_matches_replay(spark):
    """path_ngrams vs a python sliding-window replay; session
    boundaries never produce cross-bucket n-grams."""
    from oshdb_spark.ops.textstats import path_ngrams

    rows = [
        # (user, day, type, sec, seq)
        (1, 1, "a", 10, 1), (1, 1, "b", 20, 2), (1, 1, "c", 30, 3),
        (1, 1, "a", 40, 4),
        (1, 2, "b", 50, 5), (1, 2, "c", 60, 6), (1, 2, "a", 70, 7),
        (2, 1, "a", 10, 8), (2, 1, "b", 15, 9), (2, 1, "c", 30, 10),
        (2, 1, "a", 35, 11), (2, 1, "b", 44, 12), (2, 1, "c", 50, 13),
        (3, 1, "x", 1, 14), (3, 1, "y", 2, 15),  # too short
    ]
    df = spark.createDataFrame(
        rows, "user_id long, day long, event_type string, sec long, "
        "seq long"
    )
    got = {
        r.path: r.n_occurrences
        for r in path_ngrams(df, n=3, min_count=1).collect()
    }
    import collections

    want = collections.Counter()
    bybucket = collections.defaultdict(list)
    for u, d, t, sec, seq in rows:
        bybucket[(u, d)].append((sec, seq, t))
    for evs in bybucket.values():
        evs.sort()
        ts = [t for _, _, t in evs]
        for i in range(len(ts) - 2):
            want[">".join(ts[i:i + 3])] += 1
    assert got == dict(want)
    assert got["a>b>c"] == 3  # user1-day1 + user2 twice


def test_typo_pairs_matches_brute_force(spark):
    """typo_pairs vs python Levenshtein brute force: substitution,
    insertion, deletion found; transposition and distance-2 excluded;
    doc frequencies correct."""
    from oshdb_spark.ops.dedup import typo_pairs

    docs = [
        ("hello hallo",),          # substitution pair, same doc
        ("hello helloo world",),   # insertion pair
        ("wrld world",),           # deletion pair
        ("helol",),                # transposition of hello: distance 2
        ("haleo",),                # distance 2 from hello
        ("world hello",),          # bumps doc counts
        ("ab xy",),                # below min_len: ignored
    ]
    df = spark.createDataFrame(docs, "text string")
    got = {
        (r.tok_a, r.tok_b): (r.n_a, r.n_b)
        for r in typo_pairs(df, min_len=4).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    import itertools
    import re

    vocab = {}
    for (text,) in docs:
        toks = {t for t in text.lower().split()
                if re.fullmatch("[a-z]{4,}", t)}
        for t in toks:
            vocab[t] = vocab.get(t, 0) + 1
    want = {
        (a, b): (vocab[a], vocab[b])
        for a, b in itertools.combinations(sorted(vocab), 2)
        if lev(a, b) == 1
    }
    assert got == want
    assert ("hallo", "hello") in got and ("hello", "helloo") in got
    assert ("world", "wrld") in got  # deletion pair ('o' < 'r')
    # transposition (helol) is distance 2 from hello — excluded;
    # haleo only pairs with hallo (one substitution), never hello
    assert not any("helol" in p for p in got)
    assert ("haleo", "hello") not in got and ("hello", "haleo") not in got


def test_trimmed_mean_and_quartiles_match_numpy(spark):
    """trimmed_mean / quartiles_exact vs python replays with ties,
    tiny groups (k=0), and a group where trimming changes the mean."""
    import math
    import random as _r

    from oshdb_spark.ops.stats import quartiles_exact, trimmed_mean

    _r.seed(11)
    rows = [("a", v) for v in range(1, 21)]          # 1..20
    rows += [("b", 5)] * 9 + [("b", 1000)]           # outlier group
    rows += [("c", 7), ("c", 9)]                     # n=2, k=0
    rows += [("d", _r.randint(-50, 50)) for _ in range(37)]
    df = spark.createDataFrame(rows, "g string, v long")
    gt = {r.g: r for r in trimmed_mean(df, "g", "v", 1, 10).collect()}
    gq = {r.g: r for r in quartiles_exact(df, "g", "v").collect()}
    import collections

    groups = collections.defaultdict(list)
    for g, v in rows:
        groups[g].append(v)
    for g, vs in groups.items():
        vs = sorted(vs)
        n = len(vs)
        k = n // 10
        kept = vs[k:n - k]
        assert gt[g].n == n and gt[g].kept_n == len(kept)
        assert math.isclose(
            gt[g].trimmed_mean, round(sum(kept) / len(kept), 6),
            abs_tol=1e-9,
        ), g
        picks = []
        for num, den in ((1, 4), (1, 2), (3, 4)):
            picks.append(
                next(v for i, v in enumerate(vs, 1)
                     if i * den >= n * num)
            )
        assert (gq[g].q1, gq[g].q2, gq[g].q3) == tuple(picks), g
    # the outlier group: trimming kills the 1000
    assert gt["b"].trimmed_mean == 5.0


def test_diversity_profile_matches_replay(spark):
    """diversity_profile vs exact-fraction replay incl. single-
    category (gini 0, inv-Simpson 1) and uniform groups."""
    import math

    from oshdb_spark.ops.stats import diversity_profile

    rows = (
        [(1, "a")] * 5
        + [(2, "a"), (2, "b"), (2, "c"), (2, "d")]          # uniform 4
        + [(3, "a")] * 8 + [(3, "b")] * 2
        + [(4, "x")] * 3 + [(4, "y")] * 3 + [(4, "z")] * 6
    )
    df = spark.createDataFrame(rows, "e long, c string")
    got = {r.e: r for r in diversity_profile(df, "e", "c").collect()}
    import collections

    byg = collections.defaultdict(collections.Counter)
    for e, c in rows:
        byg[e][c] += 1
    for e, cnt in byg.items():
        n = sum(cnt.values())
        s2 = sum(v * v for v in cnt.values())
        assert got[e].n == n and got[e].n_categories == len(cnt)
        assert math.isclose(got[e].gini,
                            round(1.0 - s2 / (n * n), 6), abs_tol=1e-9)
        assert math.isclose(got[e].inv_simpson,
                            round(n * n / s2, 6), abs_tol=1e-9)
    assert got[1].gini == 0.0 and got[1].inv_simpson == 1.0
    assert got[2].gini == 0.75 and got[2].inv_simpson == 4.0


def test_calibration_bins_matches_replay(spark):
    """calibration_bins vs a python binning replay incl. the score-1.0
    clamp into the top bin."""
    import math

    rows = [
        (0.05, False), (0.08, True), (0.15, False), (0.95, True),
        (1.0, True), (0.999, False), (0.55, True), (0.55, False),
        (0.999999, True), (0.0, False),
    ] * 3
    from oshdb_spark.ops.stats import calibration_bins

    df = spark.createDataFrame(rows, "score double, label boolean")
    got = {r.bin: r for r in calibration_bins(df, "score", "label", 10).collect()}
    import collections

    acc = collections.defaultdict(list)
    for s, y in rows:
        sc = int(round(s * 10000))
        b = min(sc // 1000, 9)
        acc[b].append((sc, 1 if y else 0))
    for b, vals in acc.items():
        n = len(vals)
        ms = round(sum(v[0] for v in vals) / (n * 10000.0), 6)
        pr = round(sum(v[1] for v in vals) / n, 6)
        assert got[b].n == n
        assert math.isclose(got[b].mean_score, ms, abs_tol=1e-9)
        assert math.isclose(got[b].pos_rate, pr, abs_tol=1e-9)
        assert math.isclose(
            got[b].gap,
            round(abs(sum(v[0] for v in vals) / (n * 10000.0)
                      - sum(v[1] for v in vals) / n), 6),
            abs_tol=1e-9,
        )
    assert set(got) == set(acc)  # 1.0 landed in bin 9, no bin 10


def test_rank_normalize_average_ranks(spark):
    """rank_normalize: doubled average ranks on ties; bounds in
    (0, 1); mean pct = 1/2 exactly for any group."""
    import math

    from oshdb_spark.ops.stats import rank_normalize

    rows = [("a", v) for v in [10, 20, 20, 20, 30]]
    rows += [("b", v) for v in [1, 2, 3, 4]]
    df = spark.createDataFrame(rows, "g string, v long")
    got = rank_normalize(df, "g", "v").collect()
    a = sorted(
        [r.pct for r in got if r.g == "a"]
    )
    # ranks: 10→1, 20→avg(2,3,4)=3, 30→5 over n=5 → /(n+1)=6
    assert a == [round(1 / 6, 6)] + [0.5] * 3 + [round(5 / 6, 6)]
    b = sorted(r.pct for r in got if r.g == "b")
    assert b == [0.2, 0.4, 0.6, 0.8]
    for g in ("a", "b"):
        ps = [r.pct for r in got if r.g == g]
        assert math.isclose(sum(ps) / len(ps), 0.5, abs_tol=1e-6)


def test_rolling_active_users_matches_replay(spark):
    """rolling_active_users vs a python set replay incl. gap days
    (present in output via the fan-out) and span clipping."""
    rows = [
        (1, 100), (2, 100), (1, 101), (3, 103), (1, 110),
        (2, 110), (3, 110), (4, 130), (1, 131),
    ]
    from oshdb_spark.ops.timeseries import rolling_active_users

    df = spark.createDataFrame(
        [(u, d * 86400 + 5) for u, d in rows], "user_id long, sec long"
    )
    got = {r.day: (r.dau, r.wau, r.mau, r.stickiness)
           for r in rolling_active_users(df).collect()}
    days = {d for _, d in rows}
    d0, d1 = min(days), max(days)
    for day in range(d0, d1 + 1):
        def active(w):
            return len({u for u, d in rows if day - w < d <= day})
        dau, wau, mau = active(1), active(7), active(28)
        want_st = round(dau / wau, 6) if wau else None
        if day in got:
            assert got[day] == (dau, wau, mau, want_st), day
        else:
            # days never reached by any trailing window are absent
            assert dau == 0 and wau == 0 and mau == 0
    assert got[101] == (1, 2, 2, 0.5)
    assert 102 in got and got[102][0] == 0  # gap day, wau carries


def test_dispersion_index_matches_replay(spark):
    """dispersion_index vs the dense-calendar variance/mean replay:
    a perfectly regular entity reads < 1, a bursty one > 1."""
    import math

    from oshdb_spark.ops.stats import dispersion_index

    rows = []
    rows += [("reg", d * 86400 + 10) for d in range(100, 130)]  # 1/day
    rows += [("burst", 100 * 86400 + i) for i in range(30)]     # one day
    rows += [("mid", d * 86400) for d in (100, 100, 105, 110, 110, 110)]
    df = spark.createDataFrame(rows, "e string, sec long")
    got = {r.e: r for r in dispersion_index(df, "e").collect()}
    days = [s // 86400 for _, s in rows]
    nd = max(days) - min(days) + 1
    import collections

    for e in ("reg", "burst", "mid"):
        cnt = collections.Counter(
            s // 86400 for x, s in rows if x == e
        )
        s = sum(cnt.values())
        s2 = sum(v * v for v in cnt.values())
        assert got[e].n_days == nd
        assert math.isclose(got[e].mean_per_day, round(s / nd, 6),
                            abs_tol=1e-9)
        assert math.isclose(
            got[e].dispersion,
            round((nd * s2 - s * s) / (nd * s), 6), abs_tol=1e-9)
    assert got["reg"].dispersion < 1.0 < got["burst"].dispersion


def test_ks_2sample_matches_scipy_style_reference(spark):
    """ks_2sample vs an exact python ECDF sup replay, incl. identical
    distributions (D=0 at the smallest value) and disjoint supports
    (D=1)."""
    import math

    from oshdb_spark.ops.stats import ks_2sample

    a = [1, 2, 2, 3, 5, 8, 8, 9]
    b = [2, 3, 3, 4, 4, 9, 10]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    rows += [("zzz", 999)]  # other groups are filtered out
    df = spark.createDataFrame(rows, "g string, v long")
    r = ks_2sample(df, "g", "v", "a", "b").collect()[0]

    na, nb = len(a), len(b)
    vals = sorted(set(a) | set(b))
    best = None
    for v in vals:
        ca = sum(1 for x in a if x <= v)
        cb = sum(1 for x in b if x <= v)
        num = abs(nb * ca - na * cb)
        if best is None or num > best[0]:
            best = (num, v)
    assert (r.n_a, r.n_b) == (na, nb)
    assert math.isclose(r.ks_d, round(best[0] / (na * nb), 6),
                        abs_tol=1e-9)
    assert r.at_value == best[1]
    # identical distributions: D = 0, argmax at smallest pooled value
    df2 = spark.createDataFrame(
        [("a", v) for v in a] + [("b", v) for v in a], "g string, v long"
    )
    r2 = ks_2sample(df2, "g", "v", "a", "b").collect()[0]
    assert r2.ks_d == 0.0 and r2.at_value == min(a)
    # disjoint supports: D = 1
    df3 = spark.createDataFrame(
        [("a", v) for v in (1, 2)] + [("b", v) for v in (10, 11)],
        "g string, v long",
    )
    assert ks_2sample(df3, "g", "v", "a", "b").collect()[0].ks_d == 1.0


def test_gini_inequality_reference_values(spark):
    """gini_inequality vs hand/analytic values: perfect equality 0,
    maximal concentration (n-1)/n, and a numpy-computed random case
    incl. ties."""
    import math
    import random as _r

    from oshdb_spark.ops.stats import gini_inequality

    _r.seed(19)
    rnd = [_r.randint(0, 40) for _ in range(101)]
    rows = [("eq", 7)] * 8
    rows += [("conc", 0)] * 9 + [("conc", 90)]
    rows += [("rnd", v) for v in rnd]
    rows += [("zero", 0)] * 4
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r.g: r for r in gini_inequality(df, "g", "v").collect()}
    assert got["eq"].gini == 0.0
    assert got["conc"].gini == 0.9  # (n-1)/n with one holder
    assert got["zero"].gini is None
    vs = sorted(rnd)
    n, s = len(vs), sum(vs)
    want = round(
        sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(vs))
        / (n * s), 6,
    )
    assert math.isclose(got["rnd"].gini, want, abs_tol=1e-9)
    assert got["rnd"].n == n and got["rnd"].total == s


def test_mannwhitney_u_matches_reference(spark):
    """mannwhitney_u vs a python average-rank replay with heavy ties;
    the symmetric case gives z = 0 and U = n_a*n_b/2."""
    import math

    from oshdb_spark.ops.stats import mannwhitney_u

    a = [1, 2, 2, 3, 7, 9, 9]
    b = [2, 4, 4, 5, 9, 12]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    rows += [("x", 999)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = mannwhitney_u(df, "g", "v", "a", "b").collect()[0]

    pooled = sorted(a + b)
    def avg_rank(v):
        lo = pooled.index(v) + 1
        hi = lo + pooled.count(v) - 1
        return (lo + hi) / 2
    ra = sum(avg_rank(v) for v in a)
    na, nb = len(a), len(b)
    ua = ra - na * (na + 1) / 2
    import collections

    t3t = sum(c**3 - c for c in collections.Counter(pooled).values())
    nn = na + nb
    var = na * nb / 12 * ((nn + 1) - t3t / (nn * (nn - 1)))
    zz = (ua - na * nb / 2) / math.sqrt(var)
    assert (r.n_a, r.n_b) == (na, nb)
    assert r.u_a == ua
    assert math.isclose(r.z, round(zz, 6), abs_tol=1e-9)
    # identical samples: U = n²/2, z = 0
    df2 = spark.createDataFrame(
        [("a", v) for v in a] + [("b", v) for v in a], "g string, v long"
    )
    r2 = mannwhitney_u(df2, "g", "v", "a", "b").collect()[0]
    assert r2.u_a == len(a) ** 2 / 2 and r2.z == 0.0
