"""Similarity search over embedding columns (array<float>).

Three paths, per the north star:
  * brute-force cosine top-k — the exactness baseline. Expressed as a
    broadcast join of the (small) query set against the corpus, with
    the dot product as a Catalyst fold (``F.aggregate``/``zip_with``)
    — JVM-side, deterministic left-to-right summation order (which is
    what lets a DuckDB oracle replay it bit-for-bit).
  * LSH-bucketed ANN (random hyperplane signs) — scale path #1:
    candidates only from matching buckets, so the join is
    sub-quadratic; recall tunable via tables×bits.
  * IVF ANN (sample-trained coarse quantizer + cell probing) — scale
    path #2: learned Voronoi cells fail differently than random
    hyperplanes, so production pipelines hedge by running both.

Every kNN operator (these three, ``hard_negative_knn`` and
``pq.pq_knn``) is a candidate generator followed by one shared exact
tail: ``_vectors`` projects ``(id, vec, norm)`` once per row,
``_score`` folds one dot product per pair, and ``_top_k`` is the one
rank contract — ``cosine_sim`` descending, then ``neighbor_id``
ascending, a ``long`` ``rank`` ≤ k. ``_rerank`` runs that tail over
``(query_id, neighbor_id)`` candidates (LSH and PQ).

The only Python stage anywhere is IVF's bounded-sample quantizer fit;
all per-row math is JVM-side. At 100 TB the brute-force variant is
still valid when the query side is small (it is a map-side broadcast
join, scanning the corpus once).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import width
from ..pins import pin

__all__ = [
    "dot",
    "norm",
    "brute_force_knn",
    "hard_negative_knn",
    "cosine_near_pairs",
    "adaptive_lsh_bits",
    "hyperplane_lsh_pairs",
    "hyperplane_lsh_knn",
    "ivf_knn",
    "semantic_dedup",
]


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float arrays as a strict left fold in double
    precision — deterministic summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


_IDS = {"q": "query_id", "c": "neighbor_id", "a": "id_a", "b": "id_b"}


def _vectors(
    df: DataFrame, id_col: str, vec_col: str, side: str, *extra: Column
) -> DataFrame:
    """One side of a scoring join: ``(id, <side>_vec, <side>_n, *extra)``
    with the id named by ``side`` (``q`` → ``query_id``, ``c`` →
    ``neighbor_id``, ``a``/``b`` → ``id_a``/``id_b``). The norm is
    computed once per row, not once per pair, so a scored pair pays a
    single fold (see ``_score``)."""
    return df.select(
        F.col(id_col).alias(_IDS[side]),
        *extra,
        F.col(vec_col).alias(f"{side}_vec"),
        norm(F.col(vec_col)).alias(f"{side}_n"),
    )


def _score(a: str = "q", b: str = "c") -> Column:
    """``cosine_sim`` of a joined pair of ``_vectors`` sides: the same
    IEEE double as ``dot/(norm·norm)`` computed per pair (the norms are
    merely factored out), so the oracles replay it exactly."""
    return (
        dot(F.col(f"{a}_vec"), F.col(f"{b}_vec"))
        / (F.col(f"{a}_n") * F.col(f"{b}_n"))
    ).alias("cosine_sim")


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The rank contract of every kNN operator: per ``query_id``, order
    by ``cosine_sim`` descending then ``neighbor_id`` ascending, number
    the rows as a ``long`` ``rank`` and keep ``rank`` ≤ k."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _rerank(
    cand: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Exact cosine top-k over ``(query_id, neighbor_id)`` candidates:
    attach each side's vector and norm (the query side broadcast),
    score, and rank with ``_top_k``. Candidates arrive as bare ids, so
    vectors are attached only to the pairs that survived pruning."""
    return _top_k(
        cand.join(
            F.broadcast(_vectors(queries, query_id_col, vec_col, "q")),
            "query_id",
        )
        .join(_vectors(corpus, id_col, vec_col, "c"), "neighbor_id")
        .select("query_id", "neighbor_id", _score()),
        k,
    )


def _broadcast_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    label_col: str | None,
) -> DataFrame:
    """Shared broadcast/score/top-k pipeline behind ``brute_force_knn``
    and ``hard_negative_knn``.

    With ``label_col`` set, the label-difference check rides the join
    condition so same-class rows are dropped BEFORE the dot-product
    fold runs, and ``neighbor_label`` is carried in the output.
    """
    q_extra, c_extra = [], []
    cond = F.col("neighbor_id") != F.col("query_id")
    out_cols = ["query_id", "neighbor_id"]
    if label_col is not None:
        q_extra.append(F.col(label_col).alias("q_label"))
        c_extra.append(F.col(label_col).alias("c_label"))
        cond = cond & (F.col("c_label") != F.col("q_label"))
        out_cols.append(F.col("c_label").alias("neighbor_label"))
    q = _vectors(queries, query_id_col, vec_col, "q", *q_extra)
    scored = (
        _vectors(corpus, id_col, vec_col, "c", *c_extra)
        .join(F.broadcast(q), cond)
        .select(*out_cols, _score())
    )
    return _top_k(scored, k)


def brute_force_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    Plan: broadcast the query set; one pass over the corpus computes
    all similarities; window row_number per query keeps k. Deterministic
    tiebreak (similarity DESC, corpus id ASC). Scale: corpus never
    shuffles until the (tiny) per-query top-k aggregation.

    Zero-norm vectors propagate 0/0 = NaN cosine, which Spark's
    descending sort orders FIRST — garbage in, rank-1 garbage out, by
    (documented) design: filter zero vectors upstream, they have no
    defined direction.
    """
    return _broadcast_knn(
        corpus, queries, k, id_col, vec_col, query_id_col, label_col=None
    )


def hard_negative_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar corpus vectors whose LABEL differs
    from the query's — the highest-loss negatives for a
    InfoNCE/triplet objective (Robinson et al. 2021, arXiv:2010.04592
    popularized hardness-aware negative selection; retrieval trainers
    like DPR mine exactly this set).

    Same pipeline as ``brute_force_knn`` (shared ``_broadcast_knn``)
    with the label filter on the join condition. Scale: the corpus
    never shuffles until the tiny per-query top-k; for billion-row
    corpora compose with ``hyperplane_lsh_knn``'s bucket candidates
    and filter labels the same way.
    """
    return _broadcast_knn(
        corpus, queries, k, id_col, vec_col, query_id_col, label_col
    )


def cosine_near_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim ≥ t).

    Without ``candidates`` this is O(n²) — verification scale only.
    The 100 TB path passes LSH bucket candidates (hyperplane_lsh_pairs)
    and the plan is candidate-DRIVEN: two equi-joins attach the vectors
    to the candidate pairs, so no cross join ever exists in the plan
    (the naive formulation — cross join then semi-join — materializes
    all n²/2 vector pairs before the filter; measured 78 s vs ~4 s at
    sf0.1).

    Per-vector norms are computed ONCE on the vector side and carried
    through the joins, so each pair pays a single fold (the dot
    product) instead of three — same IEEE result, since
    ``dot/(sqrt(dot_aa)·sqrt(dot_bb))`` is just factored.
    """
    a = _vectors(df, id_col, vec_col, "a")
    b = _vectors(df, id_col, vec_col, "b")
    if candidates is not None:
        pairs = candidates.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    else:
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return pairs.select("id_a", "id_b", _score("a", "b")).filter(
        F.col("cosine_sim") >= threshold
    )


def hyperplanes(dim: int, bits: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — no numpy at plan
    time keeps the plan reproducible from code alone). Public because
    the catalog's DuckDB oracles embed the SAME literals to replay the
    bucket assignment cross-engine."""
    state = seed
    planes = []
    for _ in range(bits):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _signature_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """SQL text packing sign bits of ``vec_sql`` against each
    hyperplane into one long.

    The per-plane dot product is the same strict left fold as ``dot``
    (``aggregate(zip_with(...), 0.0, +)``), so a DuckDB oracle with
    the identical plane literals reproduces the sign (and therefore
    the bucket) bit-for-bit. Plane weights are embedded as
    ``CAST('<repr>' AS DOUBLE)``: Python ``repr`` emits the shortest
    round-tripping decimal and Java's ``Double.parseDouble`` is
    correctly rounded, so the parsed constant is the exact IEEE double
    the plan-time literal would have been (Catalyst folds the casts).

    Implementation note (r4/r5, measured): the fold stays a
    higher-order ``aggregate``/``zip_with`` — unrolling it into 64
    multiply-add terms per plane costs 15-25 s of driver-side
    analysis/codegen at 30 planes. r5 moved construction itself from
    the PySpark Column DSL to ONE ``F.expr`` string per projection:
    building 30 ``when/aggregate/zip_with`` Columns through py4j cost
    ~1.6 s of pure driver round-trips PER SIDE of the LSH join, while
    composing the equivalent SQL text in Python is free and the
    server parses it once.
    """
    terms = []
    for j, plane in enumerate(planes):
        arr = (
            "array("
            + ",".join(f"CAST('{float(w)!r}' AS DOUBLE)" for w in plane)
            + ")"
        )
        dotp = (
            f"aggregate(zip_with({vec_sql}, {arr}, "
            "(x, w) -> CAST(x AS DOUBLE) * w), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        terms.append(
            f"IF({dotp} > 0, CAST({1 << j} AS BIGINT), CAST(0 AS BIGINT))"
        )
    return "(" + " + ".join(terms) + ")"


def _signature_array(
    vec_col: str, bits: int, tables: int, dim: int, seed: int
) -> Column:
    """``array(sig_table0, …)`` of per-table LSH signatures as a single
    ``F.expr`` — one py4j call for the whole projection."""
    sigs = ",".join(
        _signature_sql(f"`{vec_col}`", hyperplanes(dim, bits, seed=seed + t))
        for t in range(tables)
    )
    return F.expr(f"array({sigs})")


def adaptive_lsh_bits(
    n_vectors: int,
    target_bucket: int = 125,
    floor_bits: int = 4,
    cap_bits: int = 16,
) -> int:
    """Hyperplane-LSH bits sized so the EXPECTED bucket width
    ``n / 2^bits`` stays ~``target_bucket`` as the corpus grows — the
    knob that keeps the candidate join linear in n (fixed bits make
    bucket width, and therefore within-bucket pair expansion, grow
    linearly/quadratically with the corpus: measured 3.6 s -> 151 s
    for semantic_dedup between 2k and 20k vectors at bits=4, SCALING.md
    r6).

    Recall trade-off is the standard LSH S-curve: per-table collision
    P = (1 - acos(cos)/pi)^bits. Going 4 -> 8 bits at the SemDeDup
    production threshold (cos >= 0.95, theta ~ 18 deg) keeps per-table
    P ~ 0.43 and 6-table recall >= 96%; at loose thresholds
    (cos ~ 0.35) recall drops instead of work exploding — the right
    side of the trade for a candidate GATE, and the documented reason
    low-threshold exact pair sets (which are themselves quadratic on a
    saturated corpus) need the brute-force path, not LSH.
    """
    import math

    if n_vectors <= target_bucket:
        return floor_bits
    return max(
        floor_bits,
        min(cap_bits, math.ceil(math.log2(n_vectors / target_bucket))),
    )


def hyperplane_lsh_pairs(
    df: DataFrame,
    bits: int = 4,
    tables: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    probe_hamming: int = 0,
) -> DataFrame:
    """Candidate (id_a < id_b) pairs sharing a hyperplane-LSH bucket in
    ANY table — the sub-quadratic candidate gate for embedding near-dup
    detection (pairs analogue of ``hyperplane_lsh_knn``).

    All table signatures are computed in ONE projection + posexplode
    (single execution of the dot-product subtree), then candidates come
    from a self-equi-join on (table, bucket). The self-join is kept
    (rather than collect_list pair expansion) because few-bit buckets
    are wide by design and the shuffle join streams them — same
    rationale as the simhash path (operators/dedup.py).

    ``probe_hamming=1`` enables multiprobe (Lv et al., VLDB'07): ONE
    side of the join additionally emits every bucket at Hamming
    distance 1 (flip each sign bit), so pairs whose signatures differ
    by a single near-boundary bit still collide — a recall dial that
    multiplies one join side by (bits+1) instead of adding whole
    tables (which would re-pay the signature computation).

    Scale: with b bits per table, each table's join touches ~n²/2^b
    candidate pairs on uniform geometry and far fewer on clustered
    real-world embeddings; no full cross join ever materializes.
    """
    if probe_hamming not in (0, 1):
        raise ValueError("probe_hamming must be 0 or 1")
    bucket_arr = _signature_array(vec_col, bits, tables, dim, seed)
    # BOTH sides of the bucket self-join consume this frame, and its
    # parent is the signature computation — tables×bits dot-product
    # folds per vector, the operator's dominant row-local cost.
    # Materialize once (rows are three scalars — id, tbl, bucket — so
    # the checkpoint is narrow) instead of running the fold subtree
    # twice.
    banded = pin(
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(bucket_arr).alias("tbl", "bucket"),
        )
    )
    probed = banded
    if probe_hamming == 1:
        # identity + each single-bit flip, exploded row-locally; only
        # this side probes (probing both would double the radius)
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << j).cast("long"))
                for j in range(bits)
            ],
        )
        probed = banded.select(
            "id", "tbl", F.explode(probes).alias("bucket")
        )
    a = probed.alias("a")
    b = banded.alias("b")
    # without probing the sides are identical, so a.id < b.id sees every
    # pair; with one-sided probing a Hamming-1 collision may only appear
    # as (probe, exact) in one orientation — join on != and normalize
    id_cond = (
        F.col("a.id") < F.col("b.id")
        if probe_hamming == 0
        else F.col("a.id") != F.col("b.id")
    )
    # width pin before the dedup exchange: the consumer attaches full
    # vectors and pays a 64-dim dot fold per pair, and AQE's
    # bytes-based coalescing shrank the few-MB (id_a, id_b) exchange
    # to 1-2 tasks (semantic_dedup measured 3.5 s vs 2.4 s at sf0.1 —
    # see width.verify_width)
    return width.verify_width(
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & id_cond,
        )
        .select(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
        ),
        "id_a",
        "id_b",
    ).distinct()


def hyperplane_lsh_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 12,
    tables: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH.

    Signature per table = sign bits against ``bits`` fixed hyperplanes
    (packed into one long). Candidates = corpus rows sharing a bucket
    with the query in ANY table; exact cosine re-rank keeps top-k.

    Scale: bucket join replaces the broadcast full scan — with b bits,
    ~n/2^b corpus rows per bucket are scored per query per table. The
    hyperplanes are plan-time literals (tiny), broadcast with the plan.
    Plan shape (r4): ALL table signatures come from ONE projection +
    posexplode per side — one corpus scan instead of one per table —
    and candidate dedup runs on bare (query_id, neighbor_id) longs
    BEFORE the vectors are joined back for scoring; the previous
    union-per-table shape paid ``tables`` scans (and signature
    subtrees) and its distinct hashed 2×dim doubles per candidate
    row. Identical results; the remaining cost is the signature
    fold itself, which stays interpreted deliberately (see
    ``_signature_sql``'s note on why unrolling it is a net loss).
    """
    sig_arr = _signature_array(vec_col, bits, tables, dim, seed=7)

    c_banded = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(sig_arr).alias("tbl", "bucket"),
    )
    q_banded = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.posexplode(sig_arr).alias("tbl", "bucket"),
    )
    cand = (
        c_banded.join(F.broadcast(q_banded), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _rerank(cand, queries, corpus, k, id_col, vec_col, query_id_col)


def _train_coarse_centroids(
    corpus, vec_col: str, n_centroids: int, seed: int, fit_sample: int
):
    """Train the IVF coarse quantizer with numpy Lloyd iterations on a
    bounded driver-side sample — standard IVF practice (faiss trains
    quantizers on samples): the sample is capped, so driver memory is
    bounded no matter the corpus size, and no distributed iteration
    jobs are scheduled. Returns an (n_centroids, dim) float64 array of
    L2-normalized centroids."""
    import numpy as np

    sample = (
        corpus.select(vec_col)
        .limit(fit_sample)
        .toPandas()[vec_col]
        .tolist()
    )
    if not sample:
        return None  # empty corpus: caller falls back to exact scan
    X = np.asarray(sample, dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    centroids = X[rng.choice(X.shape[0], size=min(n_centroids, X.shape[0]), replace=False)]
    for _ in range(12):
        sims = X @ centroids.T                      # cosine on unit vectors
        assign = sims.argmax(axis=1)
        for c in range(centroids.shape[0]):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                centroids[c] = m / max(np.linalg.norm(m), 1e-12)
    return centroids


def seeded_unit_centroids(
    dim: int, n_centroids: int, seed: int = 11
) -> list[list[float]]:
    """Deterministic pseudo-random UNIT centroids for a data-independent
    IVF quantizer (the ``hyperplanes`` LCG, then exact float division
    by the Python-computed norm). Public because the catalog's DuckDB
    oracle embeds the SAME literals (``repr`` round-trips) to replay
    cell assignment and probing cross-engine — the r5 trick that made
    ann_lsh_cosine oracle-replayable, applied to IVF (VERDICT r7 task
    #4). A random Voronoi quantizer trades a little recall versus the
    trained one (tunable back via n_probe) for exact replayability."""
    import math

    out = []
    for raw in hyperplanes(dim, n_centroids, seed=seed):
        norm = math.sqrt(sum(x * x for x in raw))
        out.append([x / norm for x in raw])
    return out


def _cell_sims(vec: Column, centroids) -> Column:
    """Ranking score of ``vec`` against every centroid. Centroids are
    unit vectors, so cosine = dot/norm(vec), and norm(vec) is the same
    positive factor for every cell: it cannot change the argmax or the
    top-n_probe choice, so rank by the raw dots and skip one norm fold
    per cell."""
    return F.array(*[dot(vec, F.lit([float(x) for x in c])) for c in centroids])


def _assign_cell(vec: Column, centroids) -> Column:
    """``vec``'s Voronoi cell: the first position of the best centroid
    (0-based ``int``), one narrow pass with no ML job."""
    sims = _cell_sims(vec, centroids)
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    fit_sample: int = 20_000,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the second 100 TB path
    next to hyperplane LSH.

    Index: a coarse quantizer (spherical k-means, trained on a bounded
    sample driver-side, numpy) defines Voronoi cells; every corpus
    vector is assigned to its best cell with a pure-Catalyst argmax
    over the centroid literals — ONE narrow pass, no ML jobs; at scale
    the assignment is written once as a partition/cluster column.
    Search: each query probes its ``n_probe`` best cells and scores
    ONLY vectors in those cells — the candidate set shrinks by
    ~n_probe/n_centroids versus brute force; recall is tunable via
    ``n_probe``.

    All per-row math stays JVM-side (the ``dot`` fold; both norms ride
    the cell join, so each pair pays one fold); the only Python stage
    is the one-off bounded-sample fit.

    Pass ``centroids`` (unit vectors, e.g. ``seeded_unit_centroids``)
    to skip the trained quantizer entirely — the plan then has no
    data-dependent stage, so a SQL oracle embedding the same literals
    replays it exactly.
    """
    if centroids is None:
        centroids = _train_coarse_centroids(
            corpus, vec_col, n_centroids, seed, fit_sample
        )
    if centroids is None:
        # no vectors to train a quantizer on — exact scan degenerates
        # gracefully (same output schema, empty result on empty corpus)
        return brute_force_knn(
            corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col,
        )
    vec = F.col(vec_col)
    assigned = _vectors(
        corpus, id_col, vec_col, "c", _assign_cell(vec, centroids).alias("cell")
    )

    # query probing: top-n_probe cells per query, row-local sort
    probes = (
        _vectors(
            queries, query_id_col, vec_col, "q",
            _cell_sims(vec, centroids).alias("sims"),
        )
        .select(
            "query_id",
            "q_vec",
            "q_n",
            F.explode(
                F.slice(
                    F.reverse(F.array_sort(F.transform(
                        F.col("sims"),
                        lambda s, i: F.struct(s.alias("sim"), i.cast("int").alias("cell")),
                    ))),
                    1,
                    n_probe,
                )
            ).alias("probe"),
        )
        .select("query_id", "q_vec", "q_n", F.col("probe.cell").alias("cell"))
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _score())
    )
    return _top_k(scored, k)


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
    n_centroids: int = 16,
    seed: int = 42,
    fit_sample: int = 20_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication — prune documents whose EMBEDDINGS nearly coincide,
    catching paraphrases/templates that lexical MinHash misses.

    Pipeline: candidate pairs → exact cosine verify (≥ ``threshold``)
    → connected components → keep the MIN id per component. Returns one
    row per corpus vector: ``(id_col, keeper_id, is_dup)`` with
    ``is_dup = 1`` for every non-keeper member of a duplicate cluster
    (the rows a curation pipeline drops).

    Candidate generation is the scale knob, exactly as in the paper
    (which clusters with k-means and only compares within clusters):

    * default — IVF route: assign every vector to its coarse-quantizer
      Voronoi cell (bounded-sample k-means; assignment is one narrow
      Catalyst argmax pass) and emit within-cell pairs via a cell
      equi-join. Work is O(Σ cell²); ``n_centroids`` must grow with
      the corpus (the paper uses ~0.1·√n clusters) to keep cells
      bounded — same posture as every bucketed path here.
    * ``candidates`` — any (id_a, id_b) pair set, e.g.
      ``hyperplane_lsh_pairs``: deterministic plan-time literals, which
      is what the SQL-oracle-checked catalog entry uses.

    The verify + components stages are shared with the lexical dedup
    stack (``cosine_near_pairs``, ``dedup.connected_components``) —
    candidate-driven equi-joins and the large-star/small-star loop, no
    cross join, no driver-side graph state.
    """
    from .dedup import connected_components

    base = corpus.select(F.col(id_col), F.col(vec_col))
    if candidates is None:
        centroids = _train_coarse_centroids(
            corpus, vec_col, n_centroids, seed, fit_sample
        )
        if centroids is None:  # empty corpus: empty result, same schema
            return base.select(
                F.col(id_col),
                F.col(id_col).cast("long").alias("keeper_id"),
                F.lit(0).cast("long").alias("is_dup"),
            )
        assigned = corpus.select(
            F.col(id_col),
            _assign_cell(F.col(vec_col), centroids).alias("cell"),
        )
        candidates = (
            assigned.select("cell", F.col(id_col).alias("id_a"))
            .join(
                assigned.select("cell", F.col(id_col).alias("id_b")), "cell"
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
    pairs = cosine_near_pairs(
        corpus, threshold, id_col, vec_col, candidates=candidates
    ).select("id_a", "id_b")
    comp = connected_components(pairs)
    return (
        base.join(comp, base[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col))
            .cast("long")
            .alias("keeper_id"),
            F.when(
                F.col("component").isNotNull()
                & (F.col("component") != F.col(id_col)),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("is_dup"),
        )
    )
