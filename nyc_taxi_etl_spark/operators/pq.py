"""Product quantization (PQ) ANN: compressed-domain similarity search
(Jégou, Douze, Schmid 2011, *Product Quantization for Nearest Neighbor
Search*).

The third ANN path next to hyperplane LSH and IVF, and the one that
makes 100 TB of embeddings SEARCHABLE AT REST: each D-dim vector is
split into ``m`` subvectors and every subvector is replaced by the id
of its nearest codebook centroid — 64 dims of float32 become ``m``
4-bit/8-bit codes (here m·log2(k) bits ≈ 4 bytes vs 256, a 64×
compression), and search never touches the original vectors.

Asymmetric distance computation (ADC): for each query, the inner
product against all k centroids of every subspace is precomputed as an
m×k lookup table; a corpus vector's approximate score is then ``m``
TABLE LOOKUPS instead of D multiplies — per-pair cost drops from O(D)
to O(m). Candidates from the compressed scan are exactly re-ranked on
the true vectors (standard PQ re-rank, through the exact tail every
kNN operator shares: ``similarity._rerank``), so the output quality is
bounded by candidate recall, not code granularity.

Scale design:

* Codebooks are trained with numpy Lloyd iterations on a BOUNDED
  driver-side sample (faiss practice; same posture as the IVF coarse
  quantizer) — no distributed ML jobs.
* Encoding is one narrow Catalyst pass: per subspace an argmin over k
  centroid literals (slice + dot folds) — JVM-side, no Python.
* The query table frame is bounded (queries × m×k doubles) and
  broadcast; the compressed scan is corpus × O(m) lookups; only
  ``rerank × |queries|`` candidate rows ever touch full vectors again.
* Vectors are L2-normalized before training/encoding, so maximizing
  the approximate inner product ranks by cosine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import _rerank

__all__ = ["train_pq", "pq_encode", "pq_knn", "seeded_codebooks"]


def _normalize(vec):
    # squares in DOUBLE (like similarity.dot): float32 products here
    # would diverge from any double-precision oracle replay by an ulp
    n = F.sqrt(
        F.aggregate(
            vec,
            F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        )
    )
    return F.transform(
        vec, lambda x: x.cast("double") / F.greatest(n, F.lit(1e-12))
    )


def seeded_codebooks(
    dim: int, m: int, k: int, seed: int = 17
) -> "list[list[list[float]]]":
    """Deterministic data-independent PQ codebooks (the hyperplane LCG,
    per-centroid L2-normalized then scaled to sqrt(dsub/dim) — the
    expected norm of a unit vector's subvector — so ADC scores live on
    the data's scale). Plan-time literals, so a SQL oracle embeds the
    same constants and replays encode → ADC → re-rank exactly (the
    ann_lsh/ann_ivf trick applied to PQ). Trained codebooks
    (``train_pq``) quantize tighter; the seeded ones trade a little
    candidate recall (recovered via ``rerank``) for replayability."""
    import math

    from .similarity import hyperplanes

    if dim % m:
        raise ValueError("seeded_codebooks: m must divide dim")
    dsub = dim // m
    scale = math.sqrt(dsub / dim)
    flat = hyperplanes(dsub, m * k, seed=seed)
    books = []
    for j in range(m):
        rows = []
        for c in range(k):
            raw = flat[j * k + c]
            nrm = math.sqrt(sum(x * x for x in raw))
            rows.append([x / nrm * scale for x in raw])
        books.append(rows)
    return books


def train_pq(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    fit_sample: int = 20_000,
    iters: int = 12,
):
    """Train per-subspace codebooks on a bounded driver-side sample of
    L2-normalized vectors. Returns an (m, k, D/m) float64 numpy array,
    or None on an empty corpus."""
    import numpy as np

    sample = (
        corpus.select(vec_col).limit(fit_sample).toPandas()[vec_col].tolist()
    )
    if not sample:
        return None
    X = np.asarray(sample, dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, k, dsub))
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        kk = min(k, S.shape[0])
        C = S[rng.choice(S.shape[0], size=kk, replace=False)].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(kk):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        if kk < k:  # degenerate tiny corpus: pad with repeats
            C = np.vstack([C, np.repeat(C[:1], k - kk, axis=0)])
        books[j] = C
    return books


def _codebook_frame(spark, codebooks):
    """The trained codebooks as a 1-row frame ``(_books, _norms)`` —
    broadcast-joined wherever an encode/ADC expression needs the
    centroid constants (scalar-join pattern; keeps the plan tree small,
    see the expression-shape note on :func:`pq_encode`)."""
    m, k, _ = codebooks.shape
    nested = [
        [[float(x) for x in codebooks[j, c]] for c in range(k)]
        for j in range(m)
    ]
    norms = [
        [float((codebooks[j, c] ** 2).sum()) for c in range(k)]
        for j in range(m)
    ]
    return spark.createDataFrame(
        [(nested, norms)],
        "_books array<array<array<double>>>, _norms array<array<double>>",
    )


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``m`` centroid ids:
    ``(id_col, codes array<int>)``. Per subspace, L2-argmin over the k
    centroid literals via ``||c||² − 2⟨x,c⟩`` (the ``||x||²`` term is
    constant per argmin).

    Expression-shape note: the codebooks ride a 1-ROW BROADCAST frame
    (the scalar-join pattern every corpus-total uses), NOT m·k literal
    arrays in the plan — and the whole argmin is ONE ``transform``
    over the subspace axis. The first, fully-unrolled formulation
    (m·k separate dot-folds, each re-inlining the normalization fold)
    built an expression tree Catalyst spent ~50 s analyzing at 500
    rows; this shape is ~25× faster to plan and identical row-wise."""
    m, k, dsub = codebooks.shape
    aux = _codebook_frame(corpus.sparkSession, codebooks)
    base = corpus.select(
        F.col(id_col), _normalize(F.col(vec_col)).alias("_nv")
    ).crossJoin(F.broadcast(aux))

    def subspace_code(bookj, j):
        # The inner subvector·centroid dot is a FLAT expression over
        # element gets, not a zip_with+aggregate fold: higher-order
        # functions evaluate on Catalyst's interpreted path (no
        # codegen), so two extra lambda layers per centroid cost real
        # time — measured r10 at sf0.1 the encode pass dropped
        # 2.16 s → 1.68 s with byte-identical codes. The fold order is
        # preserved exactly (seed 0.0, left-to-right adds), so argmin
        # comparisons — and the oracle replay — are bit-identical.
        def dot(c):
            acc = F.lit(0.0)
            for i in range(dsub):
                acc = acc + F.get(F.col("_nv"), j * dsub + i) * F.get(c, i)
            return acc

        d = F.zip_with(
            F.get(F.col("_norms"), j),
            bookj,
            lambda n2, c: n2 - 2.0 * dot(c),
        )
        return (F.array_position(d, F.array_min(d)) - 1).cast("int")

    return base.select(
        F.col(id_col),
        F.transform(F.col("_books"), subspace_code).alias("codes"),
    )


def pq_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 16,
    n_codes: int = 16,
    rerank: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    fit_sample: int = 20_000,
    max_queries: int = 4096,
    codebooks=None,
) -> DataFrame:
    """Approximate cosine top-k via the compressed-domain ADC scan +
    exact re-rank of the top ``rerank·k`` candidates per query:
    ``(query_id, neighbor_id, cosine_sim, rank)``.

    Each query's flattened m×k inner-product table is computed
    DISTRIBUTIVELY — one Catalyst pass over the query table against
    the 1-row broadcast codebook frame (no driver-side collect of
    query vectors) — then the small ``(query_id, tbl)`` frame is
    broadcast against the encoded corpus. The broadcast is the one
    bounded-size assumption, so ``max_queries`` enforces it with a
    clear error instead of a silent executor/driver OOM: a query
    batch of q rows broadcasts q·m·k doubles (4096·16·16·8 B ≈ 8 MB
    at the defaults). For query sets beyond the cap, batch the calls
    or use the shuffle-join ANN paths (LSH/IVF) whose candidate join
    does not broadcast the query side.
    """
    if codebooks is not None:
        import numpy as np

        books = np.asarray(codebooks, dtype=np.float64)
    else:
        books = train_pq(corpus, vec_col, m, n_codes, seed, fit_sample)
    if books is None:
        from .similarity import brute_force_knn

        return brute_force_knn(
            corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col,
        )
    mm, kk, dsub = books.shape
    n_q = queries.limit(max_queries + 1).count()
    if n_q > max_queries:
        raise ValueError(
            f"pq_knn query set exceeds max_queries={max_queries} "
            "(the per-query ADC tables are broadcast, so the query "
            "batch must be bounded); batch the queries or raise "
            "max_queries deliberately"
        )
    aux = _codebook_frame(corpus.sparkSession, books)
    # per-query flattened m×k table of subspace inner products —
    # Catalyst-side: transform over subspaces × centroids, dot-fold each
    adc = F.flatten(
        F.transform(
            F.col("_books"),
            lambda bookj, j: F.transform(
                bookj,
                lambda c: F.aggregate(
                    F.zip_with(
                        F.slice(F.col("_qv"), j * dsub + 1, dsub),
                        c,
                        lambda a, b: a * b,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            ),
        )
    )
    tbl = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            _normalize(F.col(vec_col)).alias("_qv"),
        )
        .crossJoin(F.broadcast(aux))
        .select("query_id", adc.alias("tbl"))
    )
    codes = pq_encode(corpus, books, id_col, vec_col)
    # compressed scan: approx = Σ_j tbl[j·k + code_j] — m lookups/pair
    approx = F.aggregate(
        F.transform(
            F.col("codes"),
            lambda c, j: F.get(F.col("tbl"), j * kk + c),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    cand = (
        codes.crossJoin(F.broadcast(tbl))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            approx.alias("approx_sim"),
        )
        # standard self-exclusion (as brute_force_knn/ivf_knn): a query
        # present in the corpus must not spend a candidate slot — or a
        # result rank — on itself
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "arank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("approx_sim"), F.asc("neighbor_id")
                )
            ),
        )
        .where(F.col("arank") <= rerank * k)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank on true vectors, candidates only
    return _rerank(cand, queries, corpus, k, id_col, vec_col, query_id_col)
