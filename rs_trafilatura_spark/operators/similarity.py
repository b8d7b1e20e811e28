"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: the exactness baseline — one narrow projection,
  dot products inside whole-stage codegen (F.zip_with/F.aggregate), no UDF.
- LSH-bucketed ANN: the scale path — random-hyperplane signatures bucket
  the corpus; the query probes only its bucket (and neighbors at higher
  recall settings).  At 100 TB the bucketed table is written bucketed-by
  signature so probes are partition-pruned scans.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
                exclude_id: int | None = None) -> DataFrame:
    """Exact top-k by cosine similarity against a literal query vector.
    Everything stays JVM-side; ties broken by vec_id for determinism."""
    q = F.array(*[F.lit(float(x)).cast("double") for x in query_vec])
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    df = embeddings.select(
        "vec_id",
        (_dot(emb, q) / (_norm(emb) * _norm(q))).alias("_cos"),
    )
    if exclude_id is not None:
        df = df.filter(F.col("vec_id") != exclude_id)
    return (
        df.select(
            "vec_id",
            F.round(F.col("_cos") * 1000, 0).cast("long").alias("cos_x1000"),
        )
        .orderBy(F.desc("cos_x1000"), F.asc("vec_id"))
        .limit(k)
    )


def knn_join_exact(embeddings: DataFrame, k: int = 3) -> DataFrame:
    """Exact k-nearest-neighbors self-join: every vector's top-k by cosine.
    Brute-force cross join — the CORRECTNESS baseline, viable to ~10^4 rows.
    At corpus scale use ``knn_join_lsh``: candidates from bucket equi-joins.
    Ties broken by neighbor id; sims integer-scaled for oracle comparison."""
    from pyspark.sql import Window

    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    a = embeddings.select(F.col("vec_id").alias("a_id"), emb.alias("a_vec"))
    b = embeddings.select(F.col("vec_id").alias("b_id"), emb.alias("b_vec"))
    pairs = a.crossJoin(b).filter(F.col("a_id") != F.col("b_id"))
    cos = _dot(F.col("a_vec"), F.col("b_vec")) / (
        _norm(F.col("a_vec")) * _norm(F.col("b_vec"))
    )
    scored = pairs.select(
        "a_id", "b_id", F.round(cos * 1000, 0).cast("long").alias("cos_x1000")
    )
    w = Window.partitionBy("a_id").orderBy(
        F.desc("cos_x1000"), F.asc("b_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("a_id", "rank", "b_id", "cos_x1000")
    )


def _probe_masks(n_planes: int, probe_bits: int) -> list[int]:
    """All XOR masks with popcount ≤ probe_bits over n_planes sign bits
    (generic k-bit combinations, so the parameter contract matches
    behavior for any probe_bits)."""
    from itertools import combinations

    if probe_bits > n_planes:
        raise ValueError(
            f"probe_bits={probe_bits} exceeds n_planes={n_planes}"
        )
    masks = [0]
    for k in range(1, probe_bits + 1):
        masks += [
            sum(1 << i for i in bits)
            for bits in combinations(range(n_planes), k)
        ]
    return masks


def _multiprobe_scored_pairs(embeddings: DataFrame, dim: int) -> DataFrame:
    """(a_id, b_id, cos_x1000) candidate pairs from the multiprobe LSH
    equi-join: the query side explodes its probe signatures (own bucket +
    buckets within ``_PROBE_BITS`` Hamming), the join stays an equi-join,
    and each (a, b) pair matches via exactly one probe (the one equal to
    b's signature) — no pair-dedup shuffle.  Shared candidate machinery of
    knn_join_lsh / embedding_near_dup_pairs.  ``dim`` is required — array
    columns don't carry length in the schema, and probing the data with
    .first() would force a Spark job before the plan is even built."""
    sig = lsh_bucket_expr(dim)
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    tagged = embeddings.select(
        "vec_id", emb.alias("vec"), sig.alias("_sig")
    )
    probes = F.explode(F.array(*[
        F.col("_sig").bitwiseXOR(F.lit(m))
        for m in _probe_masks(_N_PLANES, _PROBE_BITS)
    ]))
    a = tagged.select(F.col("vec_id").alias("a_id"),
                      F.col("vec").alias("a_vec"), probes.alias("_sig"))
    b = tagged.select(F.col("vec_id").alias("b_id"),
                      F.col("vec").alias("b_vec"), "_sig")
    pairs = a.join(b, "_sig").filter(F.col("a_id") != F.col("b_id"))
    cos = _dot(F.col("a_vec"), F.col("b_vec")) / (
        _norm(F.col("a_vec")) * _norm(F.col("b_vec"))
    )
    return pairs.select(
        "a_id", "b_id", F.round(cos * 1000, 0).cast("long").alias("cos_x1000")
    )


def knn_join_lsh(embeddings: DataFrame, dim: int, k: int = 3) -> DataFrame:
    """Approximate KNN join: multiprobe LSH candidates
    (_multiprobe_scored_pairs) + per-key top-k.  The cross product never
    materializes; cost tracks bucket collisions x probe count.

    Recall characteristics (random-hyperplane LSH): a neighbor at cosine c
    shares each plane's sign with probability 1 - arccos(c)/pi, so recall is
    high for genuinely close vectors (c -> 1 lands in the same bucket) and
    poor for near-orthogonal ones — on uniform random 64-d data (max cosine
    ~0.37) this finds ~36% of exact top-3 rows at (6 planes, 2 probe bits).
    Scaled copies (x * 2^t) provably preserve every plane sign and therefore
    the bucket, which the oracle fixture exploits to pin recall at 1.0."""
    from pyspark.sql import Window

    scored = _multiprobe_scored_pairs(embeddings, dim)
    w = Window.partitionBy("a_id").orderBy(F.desc("cos_x1000"), F.asc("b_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("a_id", "rank", "b_id", "cos_x1000")
    )


def embedding_near_dup_pairs(embeddings: DataFrame, dim: int,
                             cos_threshold_x1000: int = 900) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: multiprobe LSH candidates
    (cos_x1000 uses round, not floor: identical-direction pairs sit at
    cosine EXACTLY 1.0, i.e. ON a floor boundary, where a 1-ulp
    engine-difference flips 1000 to 999; round is boundary-free there)
    (_multiprobe_scored_pairs, shared with knn_join_lsh) verified with
    exact cosine — the embedding flavor of the dedup family.  Returns
    (a_id, b_id, cos_x1000) with a_id < b_id (each unordered candidate pair
    appears once in each direction; the filter keeps one).  Near-identical
    vectors (cos -> 1) agree on every hyperplane sign, so true duplicates
    are always candidates; recall for borderline pairs follows the
    (6 planes, 2 probe bits) tradeoff documented on knn_join_lsh."""
    scored = _multiprobe_scored_pairs(embeddings, dim)
    return (
        scored.filter(F.col("a_id") < F.col("b_id"))
        .filter(F.col("cos_x1000") >= cos_threshold_x1000)
    )


# --- LSH ANN ------------------------------------------------------------------------

# The plane count targets bucket occupancy ~ n/2^planes, sized so buckets
# hold >= k candidates: 6 planes = 64 buckets works for 10^2..10^4 rows (at
# 10^9+ rows use 16-20 planes and write the table bucketed by signature so
# probes become partition-pruned scans).  Every LSH query probes its own
# bucket plus all buckets within _PROBE_BITS Hamming distance.
_N_PLANES = 6
_PROBE_BITS = 2


def _planes(dim: int) -> np.ndarray:
    """The fixed random hyperplanes: the same ones on every run."""
    rng = np.random.RandomState(zlib.crc32(b"ann") & 0x7FFFFFFF)
    return rng.randn(_N_PLANES, dim)


def lsh_bucket_expr(dim: int):
    """Signature = bit-packed signs of <v, r_i> for fixed random planes.
    Pure column expression — bucketing happens in codegen, no UDF."""
    planes = _planes(dim)
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    bits = []
    for i in range(_N_PLANES):
        plane = F.array(*[F.lit(float(v)) for v in planes[i]])
        bits.append((_dot(emb, plane) > 0).cast("long") * F.lit(1 << i))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig


def ann_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
             exclude_id: int | None = None) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket plus all buckets
    within ``_PROBE_BITS`` (2) Hamming distance of its ``_N_PLANES`` (6)
    sign bits, then exact cosine within the candidate set."""
    dim = len(query_vec)
    planes = _planes(dim)
    qsig = 0
    qv = np.asarray(query_vec, dtype=np.float64)
    for i in range(_N_PLANES):
        if float(planes[i] @ qv) > 0:
            qsig |= 1 << i
    probe_sigs = {qsig ^ m for m in _probe_masks(_N_PLANES, _PROBE_BITS)}
    bucketed = embeddings.withColumn("_sig", lsh_bucket_expr(dim))
    cands = bucketed.filter(F.col("_sig").isin(list(probe_sigs))).drop("_sig")
    return cosine_topk(cands, query_vec, k, exclude_id=exclude_id)


# --- IVF ANN ------------------------------------------------------------------------


def train_ivf_centroids(embeddings: DataFrame, n_cells: int = 16,
                        iters: int = 3) -> list[list[float]]:
    """Deterministic spherical-kmeans cell centroids (the IVF coarse
    quantizer): seeds are the ``n_cells`` lowest vec_ids (no RNG — same
    centroids every run on both engines), then Lloyd iterations with
    cosine assignment and mean/renormalize updates.  Each iteration is a
    full Spark pass (assignment in codegen + one groupBy of n_cells
    groups); only the O(n_cells * dim) centroid table ever reaches the
    driver, so training scales to arbitrarily many vectors."""
    seeds = (
        embeddings.orderBy("vec_id").limit(n_cells)
        .select("embedding").collect()
    )
    cents = [np.asarray([float(x) for x in r["embedding"]], dtype=np.float64)
             for r in seeds]
    cents = [c / (np.linalg.norm(c) or 1.0) for c in cents]
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dim = len(cents[0])
    for _ in range(iters):
        cell = _ivf_cell_expr(cents)
        # posexplode + narrow (cell, pos) groupBy instead of a 64-column
        # aggregate: same sums, one map-side-combined shuffle of
        # n_cells*dim tiny rows, and none of the wide-agg codegen cost
        # (the 64-sum variant spent ~1s/iteration compiling)
        sums = (
            embeddings.select(cell.alias("_cell"), emb.alias("_e"))
            .select("_cell", F.posexplode("_e").alias("_pos", "_v"))
            .groupBy("_cell", "_pos")
            .agg(F.sum("_v").alias("_s"))
            .collect()
        )
        acc: dict[int, np.ndarray] = {}
        for r in sums:
            acc.setdefault(r["_cell"], np.zeros(dim))[r["_pos"]] = r["_s"]
        new = list(cents)
        for c_id, v in acc.items():
            n = np.linalg.norm(v)
            if n > 0:
                new[c_id] = v / n
        cents = new
    return [[float(x) for x in c] for c in cents]


def _ivf_cell_expr(centroids):
    """argmax-cosine cell id as an Arrow-batched numpy matmul.

    The previous pure-Catalyst version (one higher-order-function dot
    product per centroid + array_position(array_max)) built an
    O(cells x dim) expression tree whose ANALYSIS alone cost seconds per
    query and whose HOFs don't codegen; one (batch x dim) @ (dim x cells)
    matmul per Arrow batch does the identical assignment at BLAS speed
    and scales to hundreds of cells.  Tie-break matches the old
    expression (first index achieving the max).  Dividing by |e| is
    dropped: it is the same positive scalar for every cell, so the
    argmax — and therefore the cell — is unchanged, and the scale-twin
    recall argument (e and 2^t*e share a cell: exact float scaling of
    every dot) holds exactly as before."""
    from pyspark.sql import types as T

    C = np.asarray(centroids, dtype=np.float64)

    def cell(emb: pd.Series) -> pd.Series:
        if not len(emb):
            return pd.Series([], dtype="int32")
        M = np.asarray([np.asarray(e, dtype=np.float64) for e in emb])
        return pd.Series(np.argmax(M @ C.T, axis=1).astype("int32"))

    return F.pandas_udf(cell, T.IntegerType())(F.col("embedding"))


def ivf_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
             centroids: list[list[float]] | None = None,
             n_cells: int = 16, n_probe: int = 4,
             exclude_id: int | None = None) -> DataFrame:
    """IVF approximate top-k: assign vectors to their argmax-cosine cell,
    probe the ``n_probe`` cells nearest the query, exact cosine within.
    The second scale path next to LSH (``ann_topk``): at 10^9+ rows the
    cell id is a write-time partition column, so a probe reads
    n_probe/n_cells of the corpus via partition pruning."""
    if centroids is None:
        centroids = train_ivf_centroids(embeddings, n_cells)
    qv = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(qv) or 1.0
    by_cos = sorted(
        range(len(centroids)),
        key=lambda i: -(np.asarray(centroids[i]) @ qv) / qn,
    )
    probe = [int(i) for i in by_cos[:n_probe]]
    cands = embeddings.withColumn("_cell", _ivf_cell_expr(centroids)).filter(
        F.col("_cell").isin(probe)
    ).drop("_cell")
    return cosine_topk(cands, query_vec, k, exclude_id=exclude_id)


# --- SemDeDup -------------------------------------------------------------------------


def _cell_and_centsim_expr(centroids):
    """struct(cell, cent_x1000): argmax-cosine cell id plus the integer-
    scaled cosine to that cell's centroid, one Arrow-batched matmul (same
    BLAS shape as _ivf_cell_expr; centroids are unit-norm from
    train_ivf_centroids, so cos = dot / |e|).

    Exactness note for scale twins (the oracle construction): for w = 2^t
    * v, every dot scales by the exact float factor 2^t, |w| = 2^t * |v|
    exactly (sqrt of an exactly-4^t-scaled sum is the exactly-2^t-scaled
    sqrt under IEEE round-to-nearest), and the quotient of two
    exactly-2^t-scaled doubles is the unscaled quotient — so twins get
    the SAME cell and the SAME cent_x1000, which is what reduces the
    semdedup greedy order inside a twin group to vec_id order."""
    from pyspark.sql import types as T

    C = np.asarray(centroids, dtype=np.float64)

    def assign(emb: pd.Series) -> pd.DataFrame:
        if not len(emb):
            return pd.DataFrame({"cell": pd.Series([], dtype="int32"),
                                 "cent_x1000": pd.Series([], dtype="int64")})
        M = np.asarray([np.asarray(e, dtype=np.float64) for e in emb])
        dots = M @ C.T
        cell = np.argmax(dots, axis=1)
        norms = np.sqrt(np.einsum("ij,ij->i", M, M))
        norms[norms == 0.0] = 1.0
        cos = dots[np.arange(len(M)), cell] / norms
        return pd.DataFrame({
            "cell": cell.astype("int32"),
            "cent_x1000": np.round(cos * 1000).astype("int64"),
        })

    schema = T.StructType([
        T.StructField("cell", T.IntegerType()),
        T.StructField("cent_x1000", T.LongType()),
    ])
    return F.pandas_udf(assign, schema)(F.col("embedding"))


def semdedup(embeddings: DataFrame,
             centroids: list[list[float]] | None = None,
             n_cells: int = 16,
             cos_threshold_x1000: int = 900) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means clustering + within-cluster pairwise cosine.
    A vector is DROPPED iff some other vector in its cluster clears the
    cosine threshold and precedes it in (cent_x1000 ASC, vec_id ASC)
    order — the paper's upper-triangular max-similarity rule with its
    default keep-low-centroid-similarity ordering, which needs no
    sequential scan: "has any earlier above-threshold partner" is a plain
    EXISTS, so the whole operator is joins + one aggregation.

    Returns (vec_id, n_dup_cands, kept): partner count within the cluster
    at the threshold, and the keep/drop verdict.

    Contract: duplicates are only detected WITHIN a cluster — that is the
    paper's semantics (its k is sized so clusters stay small), not an
    approximation bug.  Pairs split across a cell boundary are not
    compared; exact scale twins always share a cell (argmax cosine is
    scale-invariant, see _cell_and_centsim_expr).

    100 TB: cell assignment is one map-only Arrow pass; the within-cell
    self-join shuffles (cell, vec_id, cent_x1000, embedding) rows only
    and costs O(sum c_i^2) pair evaluations — bounded by the cluster-size
    cap the centroid count controls (the paper uses k ~ 10^4..10^5 so
    c_i ~ |D|/k).  The verdict aggregation is a map-side-combinable
    groupBy on vec_id; at warehouse scale the cell id doubles as the
    write-time partition key so re-runs skip the assignment scan."""
    if centroids is None:
        centroids = train_ivf_centroids(embeddings, n_cells)
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = (
        embeddings
        .withColumn("_a", _cell_and_centsim_expr(centroids))
        .select("vec_id", emb.alias("_e"),
                F.col("_a.cell").alias("_cell"),
                F.col("_a.cent_x1000").alias("_cent"))
    )
    a = base.select(F.col("vec_id").alias("a_id"), F.col("_e").alias("a_e"),
                    F.col("_cell").alias("_cell"), F.col("_cent").alias("a_cent"))
    b = base.select(F.col("vec_id").alias("b_id"), F.col("_e").alias("b_e"),
                    F.col("_cell").alias("_cell"), F.col("_cent").alias("b_cent"))
    cos = _dot(F.col("a_e"), F.col("b_e")) / (
        _norm(F.col("a_e")) * _norm(F.col("b_e"))
    )
    directed = (
        a.join(b, "_cell")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            "a_id", "a_cent", "b_id", "b_cent",
            F.round(cos * 1000, 0).cast("long").alias("cos_x1000"),
        )
        .filter(F.col("cos_x1000") >= cos_threshold_x1000)
    )
    earlier = (
        (F.col("b_cent") < F.col("a_cent"))
        | ((F.col("b_cent") == F.col("a_cent"))
           & (F.col("b_id") < F.col("a_id")))
    ).cast("int")
    verdicts = directed.groupBy("a_id").agg(
        F.count(F.lit(1)).alias("n_dup_cands"),
        F.max(earlier).alias("_has_earlier"),
    )
    return (
        base.join(verdicts, base.vec_id == verdicts.a_id, "left")
        .select(
            "vec_id",
            F.coalesce(F.col("n_dup_cands"), F.lit(0)).alias("n_dup_cands"),
            (F.coalesce(F.col("_has_earlier"), F.lit(0)) == 0).alias("kept"),
        )
    )
