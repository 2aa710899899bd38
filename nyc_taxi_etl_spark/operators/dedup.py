"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

North-star extension (BASELINE.json): the reference repo dedups only
file lists; a training-data pipeline needs document-level dedup that
survives 100 TB. Every operator here is expressed as DataFrame ops —
the only shuffles are the ones the algorithm fundamentally requires
(group-by fingerprint; band-bucket join), and candidate generation is
always sub-quadratic via LSH banding, never a full cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import width
from ..functions import hex_int, md5_int
from ..pins import pin
from .text import fingerprint, shingles, tokens

__all__ = [
    "exact_dedup",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "simhash",
    "simhash_near_pairs",
    "hamming_near_pairs",
    "connected_components",
    "cross_source_overlap",
    "lsh_bucket_stats",
]


#: Widest (band, bucket) id-list the all-pairs expansion will expand.
#: A bucket of B ids yields B·(B−1)/2 pairs in ONE row's arrays, so an
#: unbounded pathological bucket (templated boilerplate that survives
#: exact dedup) would build a multi-GB row.  64 ids → ≤ 2016 pairs per
#: bucket row, a few KB.  Overflow ids beyond the cap are NOT dropped:
#: they get a single star edge to the bucket minimum (O(B) extra
#: structs), so mass boilerplate still verifies against a
#: representative and connected_components restores the full cluster.
MAX_BUCKET_WIDTH = 64


# Largest 32-bit prime; modulus of the Kirsch-Mitzenmacher permutations.
MINHASH_P = 4294967291


def _bucket_pairs(
    banded: DataFrame, id_col: str, max_bucket: int | None = MAX_BUCKET_WIDTH
) -> DataFrame:
    """Distinct (id_a < id_b) pairs co-located in any (band, bucket).

    One shuffle (groupBy bucket) + row-local pair expansion — replaces
    the classic bucket self-join, which would execute the upstream
    (hash-heavy) plan twice and shuffle it twice. Buckets hold only
    colliding docs, so the collected id list is tiny in the normal
    case; ``max_bucket`` bounds the quadratic expansion for
    pathological hot buckets: all-pairs over the first ``max_bucket``
    sorted ids (deterministic window), plus one star edge from the
    bucket minimum to each overflow id.  Worst-case structs per row is
    O(max_bucket² + B), not O(B²), and every bucket member still
    appears in ≥1 candidate pair — a templated-boilerplate cluster
    (identical docs collide in EVERY band, so a pure slice would orphan
    the tail in all of them) still verifies member→representative and
    reconnects transitively in ``connected_components``.
    ``lsh_bucket_stats`` is the monitoring companion that counts
    overflowing buckets when tuning on a new corpus.
    """
    ids = F.array_sort(F.collect_list(F.col(id_col)))
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(ids.alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket is not None:
        grouped = grouped.select(
            F.slice(F.col("ids"), 1, max_bucket).alias("ids"),
            F.slice(
                F.col("ids"), max_bucket + 1, F.greatest(F.size("ids"), F.lit(1))
            ).alias("tail"),
        )
    pair_expr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    if max_bucket is not None:
        rep = F.element_at(F.col("ids"), 1)
        star = F.transform(
            F.col("tail"),
            lambda y: F.struct(rep.alias("id_a"), y.alias("id_b")),
        )
        pair_expr = F.concat(pair_expr, star)
    return (
        grouped.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )


def lsh_bucket_stats(banded: DataFrame, max_bucket: int = MAX_BUCKET_WIDTH) -> DataFrame:
    """Monitoring companion to ``_bucket_pairs``: per-bucket sizes and
    how many buckets overflow the expansion cap.  One aggregate over
    the same banded frame; run it when tuning bands/threshold on a new
    corpus."""
    sizes = banded.groupBy("band", "bucket").agg(F.count("*").alias("n_ids"))
    return sizes.agg(
        F.count("*").alias("n_buckets"),
        F.max("n_ids").alias("max_bucket_width"),
        F.sum(F.when(F.col("n_ids") > max_bucket, 1).otherwise(0)).alias(
            "n_overflow_buckets"
        ),
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via normalized-content fingerprint: one hash-agg.

    Returns one row per distinct content: (fingerprint, keeper_id =
    min id, dup_count). Scale: a single shuffle on the 128-bit
    fingerprint — uniformly distributed, no skew; at 100 TB this is the
    canonical first dedup pass.
    """
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").cast("long").alias("dup_count"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 12,
) -> DataFrame:
    """MinHash signature per document over word k-shingles.

    The ``num_hashes`` permutations are derived from ONE md5 per
    shingle by Kirsch-Mitzenmacher double hashing (Random Structures &
    Algorithms 2008): split the digest's first 16 hex chars into two
    32-bit ints h1, h2 and take ``h_i = (h1 + i·h2) mod P`` (P the
    largest 32-bit prime); the signature element is the numeric MIN
    over shingles. Same uniformity guarantees as independently seeded
    hashes for sketching, at 1/num_hashes of the hashing cost (12
    digests per shingle occurrence before; signature stage measured
    0.87 s → 0.54 s at sf0.1 — end-to-end LSH cost is then dominated
    by the candidate join + jaccard verify, not hashing).
    Bit-portable: DuckDB replays the same digest split and integer
    arithmetic exactly.

    Plan shape: tokens→shingles→md5s→(h1,h2) pairs, each materialized
    ONCE as its own projection (multiply-referenced aliases survive
    CollapseProject), then the permutation mins are cheap integer
    folds per row — NO explode, zero data-motion shuffles (only the
    parallelism guard when the input is a single file).
    """
    shingled = width.spread(df).select(
        F.col(id_col), shingles(F.col(text_col), k).alias("__sh")
    )
    hexed = shingled.select(
        F.col(id_col),
        F.transform(F.col("__sh"), lambda s: F.md5(s)).alias("__hx"),
    )
    paired = hexed.select(
        F.col(id_col),
        F.transform(
            F.col("__hx"),
            lambda x: F.struct(
                hex_int(x, 1, 8).alias("h1"),
                hex_int(x, 9, 8).alias("h2"),
            ),
        ).alias("__hp"),
    )

    def _perm(i: int):
        # Closure factory, NOT a default-arg lambda: pyspark counts
        # default params toward lambda arity, which would turn this
        # into a (element, index) binary lambda and shadow the seed.
        return lambda p: (p["h1"] + F.lit(i) * p["h2"]) % F.lit(MINHASH_P)

    sig_cols = [
        F.array_min(F.transform(F.col("__hp"), _perm(i))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return paired.select(F.col(id_col), *sig_cols)


def banded_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """(id, band, bucket) LSH band keys per document — the STORABLE
    near-dup index: persist this for the corpus-at-rest and each
    arriving batch joins its own (tiny) band table against it instead
    of re-hashing the corpus (operators/incremental.py).

    ALL band keys come from one projection + posexplode — the naive
    union-of-bands shape re-executes the (hash-heavy) signature
    subtree once per band; this computes signatures exactly once."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be a multiple of bands")
    r = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, k, num_hashes)
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"mh_{i}") for i in range(b * r, (b + 1) * r)]
                )
            )
            for b in range(bands)
        ]
    )
    return sigs.select(
        F.col(id_col), F.posexplode(band_keys).alias("band", "bucket")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """MinHash + LSH banding near-dup candidate pairs.

    Signature split into ``bands`` bands of r = num_hashes/bands rows;
    band key = md5 of the concatenated band slice. Candidates = pairs
    sharing ≥1 band bucket (self-join on the band key). Optionally
    verified with exact shingle Jaccard (second join on shingle sets).

    Scale: the self-join is on band-bucket keys, so cost is
    sum(bucket²) not n² — with uniform hashing buckets hold only true
    near-dups. A hot bucket (boilerplate docs) is the classic skew
    risk: AQE skew-join handles moderate cases; extreme boilerplate
    should be removed by exact dedup first.
    """
    banded = banded_signatures(df, text_col, id_col, k, num_hashes, bands)
    cand = _bucket_pairs(banded, id_col)
    if verify_threshold is None:
        return cand
    jac = ngram_jaccard_pairs(df, text_col, id_col, k, min_jaccard=0.0, candidates=cand)
    return jac.filter(F.col("jaccard") >= verify_threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_jaccard: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram (word k-shingle) Jaccard similarity for document
    pairs sharing at least one shingle.

    Plan: project the (distinct) shingle array ONCE per doc, then emit
    postings as ``(doc, |shingles|, shingle)`` — the per-doc set size
    rides along through the explode, so no separate sizes frame and no
    extra shingling passes exist anywhere in the plan. Self-equi-join
    on shingle → count shared per pair → |A∪B| = |A|+|B|−shared. The
    equi-join on shingle is the inverted-index trick: cost scales with
    postings-list sizes, not n².

    ``candidates`` (from LSH) is the 100 TB path: docs appearing in no
    candidate pair are pruned with a semi-join BEFORE shingling, so
    the whole verify stage — hashing included — scales with the
    candidate set, not the corpus. Unrestricted mode is for small
    corpora / verification.
    """
    base = width.spread(df)
    if candidates is not None:
        # the candidate frame feeds THREE plan sites (two semi-join
        # prunes via cand_ids + the pair join below); without
        # materialization Spark would re-execute the upstream LSH
        # banding subtree per site. The frame is sub-quadratic by
        # construction (that is the point of LSH) so materializing it
        # is bounded (incremental ingestion drives this path per batch).
        candidates = pin(candidates.select("id_a", "id_b"))
        cand_ids = (
            candidates.select(F.col("id_a").alias(id_col))
            .union(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        base = base.join(cand_ids, id_col, "left_semi")
    arr = base.select(
        F.col(id_col).alias("doc"), shingles(F.col(text_col), k).alias("arr")
    )
    # size + explode in one Generate over the materialized array column:
    # |shingles(doc)| is carried per posting, joins for sizes vanish
    sh = arr.select(
        "doc",
        F.size("arr").cast("long").alias("n"),
        F.explode("arr").alias("s"),
    )
    if candidates is not None:
        # expand ONLY candidate pairs with A's postings, then equi-join
        # B's postings on (id_b, shingle)
        sh_a = sh.select(
            F.col("doc").alias("id_a"), F.col("n").alias("n_a"), "s"
        )
        sh_b = sh.select(
            F.col("doc").alias("id_b"), F.col("n").alias("n_b"), "s"
        )
        shared = (
            candidates.select("id_a", "id_b")
            .join(sh_a, "id_a")
            .join(sh_b, ["id_b", "s"])
            .groupBy("id_a", "id_b", "n_a", "n_b")
            .agg(F.count("*").cast("long").alias("shared"))
        )
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        shared = (
            a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
            .groupBy(
                F.col("a.doc").alias("id_a"),
                F.col("b.doc").alias("id_b"),
                F.col("a.n").alias("n_a"),
                F.col("b.n").alias("n_b"),
            )
            .agg(F.count("*").cast("long").alias("shared"))
        )
    out = shared.select(
        "id_a",
        "id_b",
        # exact-int ratio → bit-identical cross-engine, no rounding
        (
            F.col("shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("shared"))
        ).alias("jaccard"),
    )
    return out.filter(F.col("jaccard") >= min_jaccard)


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """SimHash document signature over unigram tokens.

    Per token: a ``bits``-wide hash (from the md5 hex prefix, portable
    cross-engine). Per bit: majority vote across the document's tokens
    (+1 if set, −1 if not); signature bit = 1 iff the sum > 0.

    Implementation is row-local: transform tokens → ints, then for each
    bit a fold over the token array — no explode, no shuffle. 32 bits
    keeps the per-row expression tree manageable; Hamming-distance
    bucketing then groups near-dups.
    """
    toks = F.array_distinct(tokens(F.lower(F.col(text_col))))
    # 32-bit token hash from the md5 hex prefix, projected once so the
    # 32 per-bit folds share the hashed array.
    hashed = width.spread(df).select(
        F.col(id_col), F.transform(toks, lambda s: md5_int(s)).alias("__th")
    )
    tok_hash = F.col("__th")
    def _vote_merge(i: int):
        # NB: pyspark introspects lambda arity — a default-arg capture
        # (lambda acc, h, i=i) would be treated as a 3-ary lambda.
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_exprs = []
    for i in range(bits):
        vote = F.aggregate(tok_hash, F.lit(0), _vote_merge(i))
        bit_exprs.append(
            F.when(vote > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    sig = bit_exprs[0]
    for e in bit_exprs[1:]:
        sig = sig + e
    return hashed.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole blocking: split the signature into ``blocks`` blocks;
    any pair within distance d < blocks shares ≥1 identical block, so
    candidates come from equi-joins on block values (sub-quadratic),
    then exact popcount verification. This is the standard
    Manku/Jain/Sarma web-dedup plan, as DataFrame ops.
    """
    sig = simhash(df, text_col, id_col, bits)
    return hamming_near_pairs(
        sig,
        id_col=id_col,
        sig_col="simhash",
        bits=bits,
        max_hamming=max_hamming,
        blocks=blocks,
    )


def hamming_near_pairs(
    sig: DataFrame,
    id_col: str = "id",
    sig_col: str = "sig",
    bits: int = 64,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Pairs of rows whose ``bits``-wide integer signatures differ in
    ≤ ``max_hamming`` bit positions: ``(id_a, id_b, hamming)``.

    The signature-agnostic core of the Manku pigeonhole plan — shared
    by text SimHash (:func:`simhash_near_pairs`) and image pHash
    (``multimodal.image_phash_pairs``): any pair within distance
    d < ``blocks`` agrees exactly on ≥ 1 of the ``blocks`` bit-blocks,
    so candidates come from equi-joins on (block index, block value),
    then exact popcount verification. Block width = bits/blocks trades
    bucket heat against recall headroom: wider blocks (fewer) → more
    bucket values → colder buckets, but ``max_hamming`` must stay
    below ``blocks``.
    """
    if blocks <= max_hamming:
        raise ValueError("pigeonhole needs blocks > max_hamming")
    width = bits // blocks
    mask = (1 << width) - 1
    # all block values in one projection + posexplode (single execution
    # of the signature plan), then bucket-local pair expansion carrying
    # (id, signature) so the popcount verification needs no join back.
    blockvals = F.array(
        *[
            F.shiftright(F.col(sig_col), blk * width).bitwiseAND(F.lit(mask))
            for blk in range(blocks)
        ]
    )
    blocked = sig.select(
        F.col(id_col).alias("id"),
        F.col(sig_col).alias("sig"),
        F.posexplode(blockvals).alias("blk", "blockval"),
    )
    # self-join kept deliberately: simhash blocks are only
    # bits/blocks wide (here 8 bits → ≤256 buckets per block), so hot
    # buckets are NORMAL, and the shuffle-join streams them, whereas a
    # collect_list pair expansion would build O(bucket²) arrays in one
    # row. Both sides shuffle on the identical plan → ReusedExchange
    # executes the signature computation once.
    a = blocked.alias("a")
    b = blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.blockval") == F.col("b.blockval"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def cross_source_overlap(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    sim_col: str = "jaccard",
) -> DataFrame:
    """Duplication overlap matrix between sub-corpora: roll near-dup
    *pairs* up to the (source_a, source_b) grain.

    The diagnostic every multi-source training mix needs before
    weighting: off-diagonal cells are CROSS-SOURCE contamination (the
    same content arriving via two feeds — mirrors, syndication,
    scraper overlap), diagonal cells are within-source duplication.
    High off-diagonal mass means per-source dedup alone under-counts
    and mixture weights double-weight the shared content.

    Plan: two equi-joins attach each pair endpoint's source (join key
    is the doc id — uniform, AQE-picked strategy), then one hash-agg
    on the normalized (least, greatest) source pair — the result is
    bounded by |sources|², metadata-sized at any corpus scale. The
    expensive part (candidate generation + verification) is whatever
    produced ``pairs``; this rollup adds no quadratic stage.
    """
    src_a = df.select(
        F.col(id_col).alias("id_a"), F.col(source_col).alias("src_a")
    )
    src_b = df.select(
        F.col(id_col).alias("id_b"), F.col(source_col).alias("src_b")
    )
    return (
        pairs.join(src_a, "id_a")
        .join(src_b, "id_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("near_dup_pairs"),
            F.round(F.avg(sim_col), 4).alias("avg_similarity"),
        )
    )


def _local_components(spark, edge_rows, id_type) -> DataFrame:
    """Driver-side union-find over a BOUNDED collected edge list (the
    ≤ ``local_solve_edges`` fast path of ``connected_components``).
    Same contract as the distributed loop: one row per node appearing
    in the edges, ``component`` = min node id of its component."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        a, b = r[0], r[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    rep: dict = {}
    for node in parent:
        root = find(node)
        cur = rep.get(root)
        if cur is None or node < cur:
            rep[root] = node
    schema = StructType(
        [
            StructField("node", id_type, False),
            StructField("component", id_type, False),
        ]
    )
    rows = [(node, rep[find(node)]) for node in parent]
    return spark.createDataFrame(rows, schema)


#: Edge-count bound under which ``connected_components`` solves the
#: closure locally on the driver instead of looping distributed
#: rounds.  The input here is the POST-VERIFY duplicate edge set —
#: typically orders of magnitude smaller than the corpus — and 2^20
#: (node, node) long pairs is ~16 MB: the same "small enough to ship
#: to one machine" judgment as Spark's broadcast-join threshold.  Set
#: to 0 to force the distributed loop.
LOCAL_CC_MAX_EDGES = 1 << 20


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    local_solve_edges: int = LOCAL_CC_MAX_EDGES,
) -> DataFrame:
    """Duplicate-cluster assignment: near-dup *pairs* → connected
    *components*, the final stage of every dedup pipeline (LSH emits
    pairwise edges; keeping one doc per cluster needs the transitive
    closure).

    Returns one row per node appearing in ``pairs``:
    ``(node, component)`` where ``component`` is the MIN node id in the
    node's connected component — a deterministic canonical
    representative (so ``component`` doubles as the keeper id).

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14), expressed
    as DataFrame ops. Each round is one groupBy (min per neighborhood)
    plus one join; the edge set converges to a star forest in
    O(log² n) rounds — unlike naive label propagation, whose round
    count follows the graph DIAMETER (a 10 000-doc boilerplate chain
    would take 10 000 rounds; large-star/small-star takes ~15).

    Scale posture: no unbounded driver-side graph state — the driver
    only loops and compares a per-round checksum (count + sum of edge
    hashes). ``localCheckpoint`` truncates lineage each round so the
    plan does not grow with iterations (the classic iterative-Spark
    failure mode). Shuffle key is the node id — uniform for
    hash-derived doc ids; a mega-star around one hub is exactly what
    large-star is designed to split.

    Adaptive small-graph path (r5): the deduplicated edge set is
    counted on the job that materializes it (``df.observe`` riding the
    checkpoint — no extra action); at or below ``local_solve_edges``
    edges the transitive closure is solved with a driver-side
    union-find on the collected pairs — O(E·α) once, versus O(log² n)
    full cluster rounds whose per-round scheduling cost dwarfs the
    compute for small duplicate graphs. Above the bound, the
    distributed loop runs as before. Identical output either way
    (equality is pinned in tests across both paths); the bound is an
    explicit memory contract (~16 MB of id pairs at the default),
    exactly the judgment Spark itself applies for broadcast joins.
    """
    spark = pairs.sparkSession
    edges, m = pin(
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        n=F.count(F.lit(1)),
    )
    id_type = edges.schema["a"].dataType
    if local_solve_edges and m["n"] <= local_solve_edges:
        return _local_components(spark, edges.collect(), id_type)

    def _large_star(e: DataFrame) -> DataFrame:
        # symmetric neighborhoods; for each u: m = min(Γ(u) ∪ {u});
        # connect every strictly larger neighbor v directly to m
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
        mins = mins.select("a", F.least("mn", F.col("a")).alias("m"))
        return (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # orient edges large→small; for each hub u: m = min(smaller
        # neighbors); re-attach u and its smaller neighbors to m
        oriented = e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        mins = oriented.groupBy("a").agg(F.min("b").alias("m"))
        moved = (
            oriented.join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        hubs = mins.select(F.col("a"), F.col("m").alias("b"))
        return moved.union(hubs).distinct()

    # the convergence checksum rides each round's pin — one job per
    # round instead of checkpoint + checksum
    prev: tuple[int, int] | None = None
    for _ in range(max_iterations):
        edges, m = pin(
            _small_star(_large_star(edges)),
            n=F.count(F.lit(1)),
            h=F.coalesce(F.sum(F.xxhash64("a", "b")), F.lit(0)),
        )
        cur = (m["n"], m["h"])
        if cur == prev:
            break
        prev = cur

    # converged edge set is a star forest: every edge points node→root
    roots = edges.select(F.col("b").alias("node")).distinct()
    return (
        edges.select(F.col("a").alias("node"), F.col("b").alias("component"))
        .union(roots.select("node", F.col("node").alias("component")))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )
