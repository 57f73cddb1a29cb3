"""Similarity search over embedding columns (array<float>).

- cosine_topk   brute-force exact top-k against a query vector — the
  correctness baseline; one narrow map + one small top-k reduce.
- lsh_ann       random-hyperplane LSH bucketing — the 10^12-row scale
  path: probe only the query's bucket (multi-probe over Hamming-1
  neighbours), exact re-rank inside.
- ivf_ann       IVF-style: k-means-ish coarse centroids picked
  deterministically from the data (seeded sample), route each vector to
  its nearest centroid partition, probe the closest n_probe centroids.

All distance math is pure Catalyst (aggregate/zip_with on array<double>);
no Python in any per-row path. Hyperplanes/centroids are tiny broadcast
literals baked into the plan.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0 as double), (a, x) -> a + x)"


def _norm(a: str) -> str:
    return f"sqrt({_dot(a, a)})"


def _vec_lit(vec) -> str:
    return "array(" + ", ".join(f"cast({float(x)} as double)" for x in vec) + ")"


def with_cosine(
    df: DataFrame, query_vec, vec_col: str = "embedding", out: str = "cosine"
) -> DataFrame:
    """Cosine similarity to a fixed query vector, computed JVM-side."""
    q = _vec_lit(query_vec)
    qn = sum(float(x) * float(x) for x in query_vec) ** 0.5
    v = f"cast({vec_col} as array<double>)"
    return df.withColumn(
        out, F.expr(f"{_dot(v, q)} / ({_norm(v)} * cast({qn} as double))")
    )


def cosine_topk(
    df: DataFrame,
    query_vec,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force top-k by cosine (ties broken by id for
    determinism). Plan: narrow projection → TakeOrderedAndProject (no full
    sort, no shuffle of payloads)."""
    return (
        with_cosine(df, query_vec, vec_col)
        .select(id_col, "cosine")
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: str = "oshdb") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 bits (no RNG state,
    reproducible everywhere)."""
    planes = []
    for p in range(n_planes):
        vals = []
        i = 0
        while len(vals) < dim:
            h = hashlib.md5(f"{seed}:{p}:{i}".encode()).digest()
            for off in range(0, 16, 4):
                (u,) = struct.unpack("<I", h[off : off + 4])
                vals.append((u / 2**31) - 1.0)  # uniform [-1, 1)
            i += 1
        planes.append(vals[:dim])
    return planes


def with_lsh_bucket(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    vec_col: str = "embedding",
    out: str = "bucket",
    seed: str = "oshdb",
) -> DataFrame:
    """Random-hyperplane LSH bucket id (0..2^n_planes-1) per vector."""
    v = f"cast({vec_col} as array<double>)"
    bits = " + ".join(
        f"(CASE WHEN {_dot(v, _vec_lit(pl))} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, pl in enumerate(_hyperplanes(dim, n_planes, seed))
    )
    return df.withColumn(out, F.expr(f"cast({bits} as int)"))


def lsh_ann(
    df: DataFrame,
    query_vec,
    k: int = 10,
    n_planes: int = 8,
    multiprobe: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "oshdb",
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket plus all buckets
    within Hamming distance `multiprobe`, exact cosine re-rank inside.

    At scale the bucket column is a partition/cluster key, so the probe is
    a partition-pruned scan; recall tunes via n_planes/multiprobe.
    """
    dim = len(query_vec)
    planes = _hyperplanes(dim, n_planes, seed)
    qb = 0
    for i, pl in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, pl)) >= 0:
            qb |= 1 << i
    probes = {qb}
    if multiprobe >= 1:
        for i in range(n_planes):
            probes.add(qb ^ (1 << i))
    if multiprobe >= 2:
        for i in range(n_planes):
            for j in range(i + 1, n_planes):
                probes.add(qb ^ (1 << i) ^ (1 << j))
    bucketed = with_lsh_bucket(df, dim, n_planes, vec_col, seed=seed)
    cand = bucketed.filter(F.col("bucket").isin(sorted(probes)))
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


# Above this many centroids the unrolled Catalyst argmax-cosine routing
# expression is replaced by an Arrow-batched GEMM argmax: the expression
# tree grows O(k·dim) literals and exceeds plan/codegen limits long
# before data does (real IVF uses 4k-65k centroids; the codegen path is
# comfortable only to a few hundred). Same rationale and threshold as
# clustering._EXPR_ARGMIN_MAX_K; the codegen path is kept for small k
# because it is pure whole-stage codegen and bit-reproduces the DuckDB
# oracle's fold (driver queries run at n_centroids ≤ 16).
_ROUTE_EXPR_MAX_K = 64


def _ivf_route_arrow(df: DataFrame, cents, vec_col: str, out: str) -> DataFrame:
    """Arrow GEMM nearest-centroid-by-cosine routing for large k.

    One (batch × k) matmul against the unit-normalized centroid matrix:
    argmax over v·ĉ equals argmax cosine because ‖v‖ > 0 scales every
    column identically. Semantics match the codegen fold exactly:
    np.argmax takes the FIRST maximal index (= the fold's strict `>`
    keeping the lowest centroid on ties); zero-norm vectors get −1 (the
    fold's NaN similarities never beat the −2 seed); zero-norm centroids
    score as dot 0 (the fold substitutes cn=1.0). Centroids ship once per
    task in the closure — no join, no shuffle, narrow stage."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType

    C = np.asarray(cents, dtype=np.float64)
    cn = np.sqrt((C * C).sum(axis=1))
    Cn = np.divide(C, np.where(cn == 0.0, 1.0, cn)[:, None])

    @F.pandas_udf(IntegerType())
    def _route(s):
        # NULL vectors get −1, as in the fold (its NULL similarities
        # never replace the seed)
        best = np.full(len(s), -1, dtype=np.int32)
        valid = s.notna().to_numpy()
        if valid.any():
            X = np.stack([np.asarray(v, dtype=np.float64) for v in s[valid]])
            b = np.argmax(X @ Cn.T, axis=1).astype(np.int32)
            b[(X * X).sum(axis=1) == 0.0] = -1
            best[valid] = b
        return pd.Series(best)

    return df.withColumn(out, _route(F.col(vec_col).cast("array<double>")))


def ivf_ann(
    df: DataFrame,
    query_vec,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_iters: int = 0,
) -> DataFrame:
    """IVF: coarse quantize to deterministic centroids, probe the
    n_probe centroids nearest to the query, exact re-rank inside.

    With train_iters=0 (default) the "training" is a STUB: centroids are
    the first n_centroids vectors by id (deterministic, not k-means).
    With train_iters>0 the centroids come from clustering.kmeans_train
    (real Lloyd iterations, deterministic init) — the production path.

    Routing: ≤ _ROUTE_EXPR_MAX_K centroids compile to a pure-codegen
    argmax fold (oracle-replayable); beyond that the assignment runs the
    Arrow GEMM path (_ivf_route_arrow) so realistic centroid counts
    (4k-65k) never build O(k·dim) expression trees."""
    dim = len(query_vec)
    if train_iters > 0:
        from .clustering import kmeans_train

        cents, _ = kmeans_train(
            df, k=n_centroids, n_iter=train_iters,
            vec_col=vec_col, id_col=id_col,
        )
    else:
        # deterministic "training" stub: first n_centroids vectors by id
        cents = [
            [float(x) for x in r[0]]
            for r in df.orderBy(id_col).limit(n_centroids).select(vec_col).collect()
        ]
    if not cents:
        return df.sparkSession.createDataFrame([], f"{id_col} long, cosine double")

    def nearest_expr(vec_sql: str) -> str:
        # argmin over centroids of negative cosine (= argmax cosine)
        terms = []
        for ci, c in enumerate(cents):
            cn = sum(x * x for x in c) ** 0.5 or 1.0
            terms.append(
                f"named_struct('c', {ci}, 's', {_dot(vec_sql, _vec_lit(c))}"
                f" / ({_norm(vec_sql)} * cast({cn} as double)))"
            )
        arr = "array(" + ", ".join(terms) + ")"
        return (
            f"aggregate({arr}, named_struct('c', -1, 's', cast(-2 as double)),"
            f" (acc, x) -> CASE WHEN x.s > acc.s THEN x ELSE acc END).c"
        )

    v = f"cast({vec_col} as array<double>)"
    if len(cents) > _ROUTE_EXPR_MAX_K:
        routed = _ivf_route_arrow(df, cents, vec_col, "_cent")
    else:
        routed = df.withColumn("_cent", F.expr(nearest_expr(v)))
    qsims = []
    qn = sum(float(x) * float(x) for x in query_vec) ** 0.5 or 1.0
    for ci, c in enumerate(cents):
        cn = sum(x * x for x in c) ** 0.5 or 1.0
        s = sum(a * b for a, b in zip(query_vec, c)) / (qn * cn)
        qsims.append((s, ci))
    probe = [ci for _, ci in sorted(qsims, reverse=True)[:n_probe]]
    cand = routed.filter(F.col("_cent").isin(probe))
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """Batch kNN join: exact top-k corpus neighbours by cosine for EVERY
    row of a (small) query set — the retrieval primitive behind dataset
    attribution / influence lookups, where ``cosine_topk`` handles only
    one query at a time.

    Scale shape: the query matrix (Q×dim; Q up to ~10³ by contract)
    broadcasts into a vectorized Arrow kernel that computes each batch's
    cosine matrix with ONE matmul and keeps a per-query LOCAL top-k, in
    the exact global order (cosine desc, id asc). The global stage ranks
    only ≤ Q·k·n_batches candidate rows, so the corpus payload never
    shuffles and the reduce side is metadata-sized. Ties break by id,
    making results layout-independent.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    q_rows = queries.select(query_id_col, vec_col).collect()
    if not q_rows:
        raise ValueError("knn_join: empty query set")
    qids = np.array([int(r[0]) for r in q_rows], dtype=np.int64)
    qm = np.array([[float(x) for x in r[1]] for r in q_rows], dtype=np.float64)
    qnorm = np.sqrt((qm * qm).sum(axis=1))

    out_schema = StructType(
        [
            StructField("qid", LongType()),
            StructField("nbr_id", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["_cid"].to_numpy(dtype=np.int64)
            vm = np.array(
                [[float(x) for x in v] for v in pdf["_cvec"]],
                dtype=np.float64,
            )
            vnorm = np.sqrt((vm * vm).sum(axis=1))
            cos = (vm @ qm.T) / (vnorm[:, None] * qnorm[None, :])
            kk = min(k, len(ids))
            parts = []
            for j in range(len(qids)):
                # exact global order locally: cosine desc, id asc
                order = np.lexsort((ids, -cos[:, j]))[:kk]
                parts.append(
                    pd.DataFrame(
                        {
                            "qid": np.full(kk, qids[j], dtype=np.int64),
                            "nbr_id": ids[order],
                            "cosine": cos[order, j],
                        }
                    )
                )
            yield pd.concat(parts, ignore_index=True)

    cand = corpus.select(
        F.col(id_col).cast("long").alias("_cid"), F.col(vec_col).alias("_cvec")
    ).mapInPandas(kernel, out_schema)
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.col("nbr_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nbr_id", "cosine")
    )


def pq_ann(
    df: DataFrame,
    query_vec,
    k: int = 10,
    m: int = 4,
    n_codes: int = 16,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product-quantization ANN: split vectors into ``m`` subspaces,
    encode each subspace as its nearest codebook entry, scan by
    ASYMMETRIC distance (query ↔ codebook lookup table), exact re-rank
    the best ``rerank_factor·k`` candidates.

    Codebook "training" is the same deterministic stub as ``ivf_ann``'s
    default (subspace slices of the first ``n_codes`` vectors by id) so
    the oracle can replay it; swap in per-subspace ``kmeans_train``
    centroids for the production path. Scale shape: the encoded corpus is
    ``m`` small ints per vector (16 bytes vs 256 for dim=64 float32 —
    the point of PQ at 10^12 rows); encoding and the ADC scan are pure
    codegen expressions over broadcast-literal codebooks, the only top-k
    is TakeOrderedAndProject on (approx_dist, id).

    Distance convention: per-subspace score ``ip(c,c) - 2·ip(v,c)``
    (monotone in L2² — the ‖v‖² term is constant per vector), folds
    ascending so the oracle's ``list_inner_product`` reproduces the same
    IEEE doubles; argmin ties break toward the LOWER code index.
    """
    dim = len(query_vec)
    if dim % m:
        raise ValueError(f"pq_ann: dim {dim} not divisible by m={m}")
    sub = dim // m
    cents = [
        [float(x) for x in r[0]]
        for r in df.orderBy(id_col).limit(n_codes).select(vec_col).collect()
    ]
    if not cents:
        return df.sparkSession.createDataFrame([], f"{id_col} long, cosine double")
    # codebooks[s][c]: subspace s slice of stub centroid c
    books = [[c[s * sub : (s + 1) * sub] for c in cents] for s in range(m)]

    v = f"cast({vec_col} as array<double>)"

    def encode_expr(s: int) -> str:
        vs = f"slice({v}, {s * sub + 1}, {sub})"
        terms = []
        for ci, cvec in enumerate(books[s]):
            ipcc = 0.0
            for x in cvec:
                ipcc += x * x
            terms.append(
                f"named_struct('c', {ci}, 's', cast({ipcc} as double)"
                f" - 2.0d * {_dot(vs, _vec_lit(cvec))})"
            )
        arr = "array(" + ", ".join(terms) + ")"
        return (
            f"aggregate({arr}, named_struct('c', -1, 's', cast('Infinity' as double)),"
            f" (acc, x) -> CASE WHEN x.s < acc.s THEN x ELSE acc END).c"
        )

    # ADC lookup tables: adc[s][c] = ip(c,c) - 2·ip(q_s, c)
    adc = []
    for s in range(m):
        qs = query_vec[s * sub : (s + 1) * sub]
        row = []
        for cvec in books[s]:
            ipcc = 0.0
            for x in cvec:
                ipcc += x * x
            ipqc = 0.0
            for a, b in zip(qs, cvec):
                ipqc += float(a) * b
            row.append(ipcc - 2.0 * ipqc)
        adc.append(row)

    enc = df.select(id_col, vec_col, *[
        F.expr(encode_expr(s)).alias(f"_pq{s}") for s in range(m)
    ])
    dist = None
    for s in range(m):
        table = F.array(*[F.lit(float(x)).cast("double") for x in adc[s]])
        term = F.element_at(table, F.col(f"_pq{s}") + 1)
        dist = term if dist is None else dist + term
    cand = (
        enc.withColumn("_adc", dist)
        .orderBy(F.col("_adc"), F.col(id_col))
        .limit(rerank_factor * k)
    )
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def with_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    code_col: str = "q8",
    scale_col: str = "q8_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column —
    the standard 4× storage-compression path next to pq_ann's 16× codes
    (float32 → 1 byte/dim + one scale): scale = max|x|/127 (zero
    vectors keep scale 1.0 so dequantization is exact), code_i =
    round(x_i/scale) as tinyint, dequantization = code·scale with a
    max abs error of scale/2 per dimension. Pure Catalyst; the rounding
    is round-half-away-from-zero on both engines, so a DuckDB oracle
    replays codes bit-for-bit."""
    v = f"cast({vec_col} as array<double>)"
    ax = f"aggregate({v}, cast(0 as double), (a, x) -> greatest(a, abs(x)))"
    out = df.withColumn(
        scale_col,
        F.expr(f"CASE WHEN {ax} = 0 THEN cast(1 as double)"
               f" ELSE {ax} / 127.0 END"),
    )
    return out.withColumn(
        code_col,
        F.expr(f"transform({v}, x -> cast(round(x / {scale_col})"
               f" as tinyint))"),
    )


def int8_topk(
    df: DataFrame,
    query_vec,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force cosine top-k over the DEQUANTIZED int8 codes —
    what an int8-stored corpus serves: ranking error is bounded by the
    quantization error (≤ scale/2 per dim), recall vs the float path is
    measured in tests. Same plan shape as cosine_topk
    (TakeOrderedAndProject, no shuffle of payloads)."""
    q = with_int8(df, vec_col, "_q8", "_q8s")
    deq = q.withColumn("_dq", F.expr("transform(_q8, c -> c * _q8s)"))
    return cosine_topk(deq, query_vec, k=k, vec_col="_dq", id_col=id_col)


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    terms: list[str],
    query_vec,
    k: int = 10,
    k_each: int = 50,
    c: int = 60,
    doc_id: str = "doc_id",
    vec_id: str = "vec_id",
) -> DataFrame:
    """Hybrid lexical+vector retrieval via Reciprocal Rank Fusion:
    fuse the BM25 top-k_each (textstats.bm25_scores) with the cosine
    top-k_each by score 1/(c + rank) summed over the lists a document
    appears in (RRF, Cormack et al. SIGIR'09) — the standard production
    retrieval stack (keyword + embedding) as one plan.

    Determinism contract: both rankings order by ROUND(score, 6) DESC,
    id — the rounding collapses cross-engine last-ulp score noise before
    it can swap ranks, and 1/(c+rank) on integer ranks is IEEE-exact, so
    the fused scores replay bit-for-bit in the DuckDB oracle. Absent
    ranks are 0 (not null — keeps the column int64 through pandas).

    Scale shape: each arm is a TakeOrderedAndProject top-k_each (partial
    per-partition top-k, no global sort, payloads never shuffled); the
    row_number windows and the fusion join run over ≤ k_each rows."""
    from pyspark.sql import Window

    from .textstats import bm25_scores

    bm_top = (
        bm25_scores(docs, terms, id_col=doc_id)
        .select(F.col(doc_id).alias("_id"), F.round("score", 6).alias("_s"))
        .orderBy(F.desc("_s"), F.col("_id"))
        .limit(k_each)
    )
    bm_r = bm_top.withColumn(
        "lex_rank",
        F.row_number().over(Window.orderBy(F.desc("_s"), F.col("_id"))),
    ).select("_id", "lex_rank")

    cos_top = (
        with_cosine(emb, query_vec)
        .select(F.col(vec_id).alias("_id"), F.round("cosine", 6).alias("_c"))
        .orderBy(F.desc("_c"), F.col("_id"))
        .limit(k_each)
    )
    cos_r = cos_top.withColumn(
        "vec_rank",
        F.row_number().over(Window.orderBy(F.desc("_c"), F.col("_id"))),
    ).select("_id", "vec_rank")

    fused = bm_r.join(cos_r, "_id", "full_outer").select(
        "_id",
        F.coalesce("lex_rank", F.lit(0)).cast("long").alias("lex_rank"),
        F.coalesce("vec_rank", F.lit(0)).cast("long").alias("vec_rank"),
    )
    rrf = F.when(
        F.col("lex_rank") > 0, 1.0 / (F.col("lex_rank") + F.lit(c))
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("vec_rank") > 0, 1.0 / (F.col("vec_rank") + F.lit(c))
    ).otherwise(F.lit(0.0))
    return (
        fused.withColumn("rrf", F.round(rrf, 6))
        .orderBy(F.desc("rrf"), F.col("_id"))
        .limit(k)
        .select(F.col("_id").alias(doc_id), "lex_rank", "vec_rank", "rrf")
    )
