"""Similarity search over embedding columns (array<float>).

Two tiers:

- **Brute-force cosine top-k** — exact; one broadcast of the query vectors,
  one pass over the corpus, per-partition top-k via the rank window. The
  correctness baseline, and perfectly serviceable when queries are few.
- **Random-hyperplane LSH** — the scale path: each vector gets a b-bit
  signature from sign(v·r_i) against b shared random hyperplanes; bucket-join
  on band keys generates candidates (O(n·bands), never O(n²)); candidates
  are re-ranked with the exact cosine. At 100 TB the corpus side shuffles
  on band keys only, and the hyperplanes stay a broadcast literal.

All vector math is the JVM-side expressions in functions/vector_functions —
no Python in the hot path.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.vector_functions import cosine_similarity
from ..session import cut


def _top_cosine(scored: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` highest-``cosine`` rows, ranked (neighbor_id
    breaks ties)."""
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Rank ties on the ROUNDED similarity break by neighbor id so the output
    is engine-deterministic. queries is broadcast (small side); the window
    partitions by query so per-query top-k reduces before the final sort.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    sim = F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    return _top_cosine(scored, k)


def _deterministic_hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Pseudo-random unit-free hyperplanes, reproducible across runs.

    Deterministic from (seed, dim, bits) via a splitmix64-style integer mix —
    no RNG state, safe to regenerate identically on driver restarts.
    """
    planes = []
    for b in range(bits):
        row = []
        for d in range(dim):
            x = (seed * 0x9E3779B97F4A7C15 + b * 0xBF58476D1CE4E5B9 + d * 0x94D049BB133111EB) & (
                2**64 - 1
            )
            x ^= x >> 30
            x = (x * 0xBF58476D1CE4E5B9) & (2**64 - 1)
            x ^= x >> 27
            x = (x * 0x94D049BB133111EB) & (2**64 - 1)
            x ^= x >> 31
            # map to (-1, 1); sign structure is all LSH needs
            u = struct.unpack(">q", struct.pack(">Q", x))[0]
            row.append(u / 2**63)
        planes.append(row)
    return planes


def _sql_double_array(vals: list[float]) -> str:
    """A double-array literal as ONE SQL fragment. Large literal tables
    (centroids, hyperplanes, index LUTs) built element-wise with ``F.lit``
    cost one py4j round-trip per element — thousands of driver calls and a
    Column tree Catalyst re-analyzes per action (measured: 3.4s of pure
    plan build for 32×64 centroid literals). A single ``F.expr`` string is
    one driver call and one JVM parse. ``repr(float)`` round-trips exactly
    and the ``D`` suffix pins the literal to DOUBLE, so values are
    bit-identical to the ``F.lit(float(x))`` form."""
    return "array(" + ",".join(f"{float(x)!r}D" for x in vals) + ")"


def _sql_dot(vec_col: str, vals: list[float]) -> str:
    """SQL fragment: v · literal (same op order as the former Column form:
    CAST(x AS DOUBLE) * y, summed left-to-right from 0.0)."""
    return (
        f"aggregate(zip_with({vec_col}, {_sql_double_array(vals)}, "
        f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)"
    )


def hyperplane_signature(vec_col: str, planes: list[list[float]]):
    """b-bit signature column: bit i = sign(v · plane_i), as a long.
    ``vec_col`` is a column NAME (the expression is assembled as one SQL
    string — see _sql_double_array).

    Round 8 shape: ONE nested higher-order fold over the plane matrix as a
    single array<array<double>> literal, instead of b separate
    ``CASE WHEN dot(...)`` expressions. The b-expression form built a parse
    tree with b copies of the aggregate/zip_with machinery (48 planes × 64
    dims ≈ 300 KB of SQL) whose Catalyst analysis dominated the whole
    signature stage — measured 3.6 s vs 1.2 s for the compact form on the
    same 2 000×64 input, bit-identical output (same zip_with multiply and
    same left fold from 0.0D per plane; bit weight shiftleft(1L, i) ==
    the former 2**i literal). Unrolling the dots into flat getItem sums is
    WORSE on both axes: the 48×64-term expression blows the janino 64 KB
    method limit (codegen falls back to interpreted) and runs 4× slower.
    """
    planes_lit = "array(" + ",".join(_sql_double_array(p) for p in planes) + ")"
    return F.expr(
        f"aggregate(zip_with({planes_lit}, sequence(0, {len(planes) - 1}), "
        f"(p, i) -> CASE WHEN aggregate(zip_with({vec_col}, p, "
        f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v) > 0 "
        f"THEN shiftleft(1L, i) ELSE 0L END), 0L, (acc, b) -> acc + b)"
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    n_probe: int = 1,
    list_col: str = "list_id",
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroid list(s).

    Centroids are a broadcast literal (n_lists × dim floats); the dot
    products are JVM-side expressions, so assignment is a narrow map — at
    100 TB this runs at ingest and ``list_id`` becomes a partition column,
    making every probe a partition-pruned scan.
    """
    dots = "array(" + ",".join(_sql_dot(vec_col, c) for c in centroids) + ")"
    # one SQL string instead of n_lists×dim F.lit Columns: plan build is a
    # single parse, not thousands of py4j calls (see _sql_double_array)
    expr = (
        f"explode(transform(slice(array_sort(zip_with({dots}, "
        f"sequence(0, {len(centroids) - 1}), "
        f"(d, i) -> struct(-d AS negd, i AS idx))), 1, {int(n_probe)}), "
        f"s -> s.idx))"
    )
    return df.withColumn(list_col, F.expr(expr))


def ivf_centroids_from_sample(
    df: DataFrame, n_lists: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """Deterministic centroid seeds: the n_lists lowest-id NON-NULL
    vectors (a NULL embedding can't seed a centroid; on an all-non-null
    corpus the filter is a no-op, so every existing oracle replay is
    unchanged).

    A stand-in for k-means training that keeps the operator fully
    reproducible (and oracle-checkable); on a real corpus run
    ml.clustering.KMeans once offline and feed its centers in — the
    search-path code is identical either way.
    """
    rows = (
        df.filter(F.col(vec_col).isNotNull())
        .orderBy(id_col)
        .limit(n_lists)
        .select(vec_col)
        .collect()
    )
    return [[float(x) for x in r[0]] for r in rows]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-Flat approximate top-k: probe the ``n_probe`` nearest inverted
    lists per query, exact cosine inside the probed lists only.

    With ``n_probe == len(centroids)`` this is EXACT (equals cosine_topk) —
    the correctness anchor; recall/latency trade via n_probe. The join is
    an equi-join on list_id (shuffle/prune on a small int key), never a
    cross join — the property that survives a 100 TB corpus.
    """
    c = ivf_assign(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        centroids,
        vec_col="cv",
        n_probe=1,
    )
    q = ivf_assign(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        centroids,
        vec_col="qv",
        n_probe=n_probe,
    )
    sim = F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6)
    scored = (
        c.join(F.broadcast(q), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _top_cosine(scored, k)


def hyperplane_lsh_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 16,
    band_bits: int = 4,
    threshold: float = 0.8,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Approximate near-neighbor pairs: hyperplane-LSH candidates, exact
    cosine verification. Collisions in any of bits/band_bits bands make a
    candidate; similar vectors (small angle) collide with high probability."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = _deterministic_hyperplanes(dim, bits, seed)
    from ..functions.vector_functions import l2_norm

    # The vector norm is computed ONCE per vector here (n rows) instead of
    # once per CANDIDATE side in the verify (was: dot + two l2_norm folds
    # per candidate row — 3 higher-order-function evaluations over ~1.7 M
    # candidates at sf0.1; now 1). Bit-identity: the verify divides the
    # same dot by the same norms in the same order, only the norms are
    # evaluated earlier in the plan.
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        hyperplane_signature(vec_col, planes).alias("sig"),
        l2_norm(F.col(vec_col)).alias("nrm"),
    )
    return lsh_pairs_from_base(base, bits, band_bits, threshold)


def lsh_pairs_from_base(
    base: DataFrame,
    bits: int,
    band_bits: int,
    threshold: float,
    respread: bool | None = None,
) -> DataFrame:
    """Band join + first-agree dedup + exact-cosine verify over a
    prepared ``(id, v, sig, nrm)`` base — the shared tail of
    ``hyperplane_lsh_pairs`` and the r12 STORED-signature consumers
    (embsig store, registry.embedding_signature_store). Only the LOW
    ``bits`` bits of ``sig`` are ever read (band keys and the xor-based
    first-agree filter both index bits < bits), so ONE stored wide
    signature serves every geometry with fewer bits: the splitmix64
    plane stream is generated per-bit (``_deterministic_hyperplanes``
    ignores the total-bit count), hence plane i of a 16-bit consumer IS
    plane i of the stored 60-bit signature — the same
    one-artifact-serves-every-parameter property the stored shingle
    base proved for Jaccard thresholds."""
    n_bands = bits // band_bits
    n_keys = 1 << band_bits
    # Band keys packed into ONE int (band_index * 2^band_bits + key): an
    # int equi-join key hashes/compares cheaper than the former
    # struct(band, key), and the band index is recoverable as bk div 2^bits
    # for the first-agree dedup filter.
    bands = F.array(
        *[
            (
                F.shiftright(F.col("sig"), bi * band_bits)
                .bitwiseAND(F.lit(n_keys - 1))
                + F.lit(bi * n_keys)
            ).cast("int")
            for bi in range(n_bands)
        ]
    )
    # Band explode carries (id, sig) ONLY — never the vector. Hauling v
    # through the explode multiplies shuffle bytes by n_bands x dim (the
    # anti-pattern minhash_near_dup documents); candidates rejoin the base
    # table by id for the exact-cosine verify instead.
    #
    # Dedup WITHOUT an exchange (round 7): a pair colliding in m bands used
    # to surface m times and go through dropDuplicates — a full shuffle of
    # the candidate MULTISET, which for low-entropy geometries (3-bit bands
    # = 8 buckets) is near-quadratic and dominated the whole query
    # (measured 14.4s at sf0.1). Carrying the 8-byte signature through the
    # explode lets each joined row recompute ALL band agreements from
    # sig_a ^ sig_b and keep the pair only at its FIRST agreeing band — a
    # stateless codegen filter inside the join stage. Each candidate pair
    # survives exactly once; the dedup exchange disappears.
    exploded = base.select("id", "sig", F.explode(bands).alias("bk"))
    a, b = exploded.alias("a"), exploded.alias("b")
    xor = F.col("a.sig").bitwiseXOR(F.col("b.sig"))
    mask = (1 << band_bits) - 1
    first_agree = F.lit(None).cast("int")
    for bi in range(n_bands - 1, -1, -1):
        first_agree = F.when(
            F.shiftright(xor, bi * band_bits).bitwiseAND(F.lit(mask)) == 0,
            F.lit(bi),
        ).otherwise(first_agree)
    # Respread (r7, made CONDITIONAL r14): narrow band keys (3-bit = 8
    # keys/band) collide nearly everything into a few hot (band, key)
    # cells, and when the verify's vector joins broadcast, the whole
    # quadratic verify runs map-side on those cells — measured 25 s
    # serialized vs 4 s after one exchange of the skinny (id_a, id_b)
    # stream (and re-measured r14: the 3-bit stress geometry is 8.9 s
    # with the respread vs 23.8 s fused). But for the production
    # geometries (band_bits >= 4: 16+ keys/band), the candidate stream is
    # orders of magnitude lighter and the exchange costs MORE than it
    # buys: dropping it fuses candidate generation and verify into one
    # codegen stage with no 464k-row materialization — measured r14
    # same-session: knn_lsh_pairs 4.32 -> 1.28 s, dedup_embedding_pairs
    # 1.30 -> 0.66 s, output identical. At 100 TB the vector sides stop
    # broadcasting and the verify equi-joins introduce their own id_a/id_b
    # exchanges, which respread the work regardless of this flag — the
    # flag only governs the broadcast-verify regime. Default: auto by
    # band width (the collision-mass proxy): respread iff band_bits < 4.
    if respread is None:
        respread = band_bits < 4
    cand = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")))
        .filter(F.floor(F.col("a.bk") / n_keys).cast("int") == first_agree)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    if respread:
        cand = cand.repartition("id_a")
    va = base.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    vb = base.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    from ..functions.vector_functions import dot as _dot

    # cosine = dot / (na * nb) with the norms carried through the join —
    # value-identical to cosine_similarity(va, vb) (same fold, same
    # division order), but the per-candidate work drops from three array
    # folds to one. Measured: 14.6 s → 6–8 s at sf0.1 for the 48-bit
    # geometry, output bit-identical.
    sim = F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Lloyd's k-means, the distributed-iterative-algorithm representative:
    seeds = the ``k`` lowest-id vectors (deterministic), then ``n_iter``
    rounds of [broadcast-literal centroid assignment (ivf_assign's argmax
    dot expression) → per-(cluster, dim) mean aggregation → collect the
    k×dim centroid table to the driver] — exactly ml.clustering.KMeans'
    dataflow: per round, one narrow map + one shuffle whose key count is
    k·dim, with only the tiny centroid table crossing the driver.

    Centroid components are ROUNDED to 6 dp between rounds, which makes the
    whole iteration engine-stable: the next round's assignment dots are
    computed from identical doubles in both Spark and the DuckDB oracle
    (which unrolls the same fixed number of rounds in SQL), so an
    approximate, iterative algorithm becomes value-checkable end to end.

    Empty clusters keep their previous centroid (can't occur on the
    near-orthogonal fixture — both engines take the same trivial branch).

    Returns (grp, dim, centroid_val) exploded rows for the final centroids.
    """
    cents = kmeans_centroid_list(
        df, vec_col=vec_col, k=k, n_iter=n_iter, id_col=id_col
    )
    dim = len(cents[0])
    out = [
        (grp, d, float(cents[grp][d])) for grp in range(k) for d in range(dim)
    ]
    return df.sparkSession.createDataFrame(
        out, "grp int, dim int, centroid_val double"
    )


def kmeans_centroid_list(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
) -> list[list[float]]:
    """The Lloyd loop of ``kmeans_centroids`` returning the raw k×dim
    centroid list — the TRAINING step an IVF index consumes
    (knn_ivf_kmeans_topk feeds this straight into ivf_topk, replacing the
    lowest-id seed stand-in with actually-trained lists). Per round: one
    narrow broadcast-literal assignment + one (cluster, dim)-keyed mean
    agg; only the k×dim centroid table crosses the driver. Centroids are
    rounded to 6 dp between rounds, which is what keeps the whole
    iteration engine-replayable (see kmeans_centroids)."""
    cents = ivf_centroids_from_sample(df, k, id_col=id_col, vec_col=vec_col)
    for _ in range(n_iter):
        assigned = ivf_assign(
            df.select(F.col(vec_col).alias("v")), cents, vec_col="v", n_probe=1
        )
        rows = (
            assigned.select("list_id", F.posexplode("v").alias("dim", "val"))
            .groupBy("list_id", "dim")
            .agg(F.round(F.avg("val"), 6).alias("c"))
            .collect()
        )
        new = [list(c) for c in cents]  # empty cluster -> keep previous
        for r in rows:
            new[r["list_id"]][r["dim"]] = float(r["c"])
        cents = new
    return cents


def group_centroids(df: DataFrame, group_col: str, vec_col: str) -> DataFrame:
    """Per-group mean vector — the k-means update step / class-prototype
    aggregate, kept fully distributed.

    Emitted EXPLODED as (grp, dim, centroid_val): posexplode is a narrow
    transform, the groupBy(grp, dim) is one shuffle whose key count is
    n_groups × dim (tiny), and partial aggregation means each executor ships
    one partial sum per (grp, dim) — at 100 TB the shuffle is KBs. Collect
    back to array form with array_agg over a dim-sorted window only when a
    downstream op needs vectors (ivf_assign takes plain lists).
    """
    ex = df.select(
        F.col(group_col).alias("grp"), F.posexplode(F.col(vec_col)).alias("dim", "val")
    )
    return ex.groupBy("grp", "dim").agg(
        F.round(F.avg("val"), 6).alias("centroid_val")
    )


def quantize_int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column — the
    standard 4x footprint cut before ANN index build / vector transport
    (FAISS SQ8-style: per-vector absmax scaling).

    q_i = floor(x_i / scale + 0.5) with scale = absmax / 127, computed as
    pure JVM array expressions (transform / array_max); floor(x + 0.5) is
    used instead of round() because IEEE floor and division are bit-exact
    in every engine while round()'s tie behavior is not. The scale is
    emitted as integer micros (scale_micro) for the same reason. Zero
    shuffles — a narrow map stage at any scale.

    Output: (id, n_dims, scale_micro, q_min, q_max, q [comma-joined ints]).
    """
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    absmax = F.array_max(F.transform(x, lambda v: F.abs(v)))
    # materialize scale BEFORE the per-element lambda: inlining it would
    # re-evaluate array_max once per element (O(d^2) per vector)
    staged = df.select(
        F.col(id_col),
        x.alias("_x"),
        (F.greatest(absmax, F.lit(1e-12)) / F.lit(127.0)).alias("_scale"),
    )
    q = F.transform(
        F.col("_x"), lambda v: F.floor(v / F.col("_scale") + F.lit(0.5)).cast("int")
    )
    return staged.select(
        F.col(id_col),
        F.size(F.col("_x")).cast("long").alias("n_dims"),
        F.floor(F.col("_scale") * F.lit(1e6) + F.lit(0.5)).cast("long").alias(
            "scale_micro"
        ),
        F.array_min(q).cast("long").alias("q_min"),
        F.array_max(q).cast("long").alias("q_max"),
        F.array_join(q, ",").alias("q"),
    )


def covariance_matrix(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Upper-triangle covariance matrix of an embedding column — the PCA /
    whitening prep step (cov = E[x_i x_j] - E[x_i]E[x_j]).

    Scale shape: per-partition Gram accumulation in one Arrow-batched
    ``mapInPandas`` pass — each batch contributes ``X.T @ X`` (BLAS dgemm),
    a column-sum vector, and a row count, flattened to d(d+1)/2 + d + 1
    partial sums. The ONLY shuffle moves those partials per partition (KBs,
    invariant to row count); the earlier product-explode formulation was
    row-linear in exploded cells (d(d+1)/2 per input row — 5.3x growth at
    4x rows in SCALING.md) and is retired. At 100 TB the dgemm runs where
    the data lives and the reduce tree is a single tiny groupBy.

    Value parity: output is integer micro-units
    ``floor(cov * 1e6 + 0.5)::BIGINT`` — a BIGINT cannot carry a -0.0, and
    IEEE floor/multiply are engine-exact, so the DuckDB oracle's
    differently-ordered double sums land on the same integer (last-ulp sum
    noise ~1e-13 vs the 1e-6 grid; see repo parity rule #1).

    Output: (i, j [0-based, i <= j], cov_micro BIGINT) — d(d+1)/2 rows.
    """
    n_tri = dim * (dim + 1) // 2

    def gram(batches):
        import numpy as np
        import pandas as pd

        S = np.zeros((dim, dim), dtype=np.float64)
        colsum = np.zeros(dim, dtype=np.float64)
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["_v"].tolist(), dtype=np.float64)
            S += X.T @ X
            colsum += X.sum(axis=0)
            n += X.shape[0]
        if n == 0:
            return
        iu0, iu1 = np.triu_indices(dim)
        ps = np.concatenate([S[iu0, iu1], colsum, [float(n)]])
        yield pd.DataFrame(
            {"p": np.arange(len(ps), dtype=np.int64), "s": ps}
        )

    partials = df.select(F.col(vec_col).alias("_v")).mapInPandas(
        gram, "p long, s double"
    )
    # r14 (guide §4/§2.1): the reduced partial-sum table is consumed by
    # FOUR subtrees below (n_df, means twice, stats) whose per-branch
    # column pruning makes the exchanges non-identical, so ReuseExchange
    # never fires and the corpus-scale Arrow dgemm pass replicated into
    # every branch (plan-measured: 4 MapInPandas stages). One EAGER
    # localCheckpoint of the d(d+1)/2+d+1-row reduction (~KBs at any
    # corpus size) runs the scan ONCE; eager, not lazy, so concurrent
    # broadcast subtrees cannot race the materialization.
    agg = cut(
        partials.groupBy("p")
        .agg(F.sum("s").alias("s"))
    )
    n_df = agg.filter(F.col("p") == n_tri + dim).select(F.col("s").alias("n"))
    means = agg.filter(
        (F.col("p") >= n_tri) & (F.col("p") < n_tri + dim)
    ).select((F.col("p") - n_tri).cast("int").alias("d"), F.col("s").alias("sx"))
    pairs = [(i, j) for i in range(dim) for j in range(i, dim)]
    # single-parse literal LUTs (2×d(d+1)/2 ints) — see _sql_double_array
    i_lut = F.expr("array(" + ",".join(str(i) for i, _ in pairs) + ")")
    j_lut = F.expr("array(" + ",".join(str(j) for _, j in pairs) + ")")
    stats = (
        agg.filter(F.col("p") < n_tri)
        .select(
            F.get(i_lut, F.col("p").cast("int")).alias("i"),
            F.get(j_lut, F.col("p").cast("int")).alias("j"),
            F.col("s").alias("sxy"),
        )
        .crossJoin(F.broadcast(n_df))
    )
    cov = F.col("sxy") / F.col("n") - (F.col("mi") / F.col("n")) * (
        F.col("mj") / F.col("n")
    )
    return (
        stats.join(
            F.broadcast(means.select(F.col("d").alias("i"), F.col("sx").alias("mi"))),
            "i",
        )
        .join(
            F.broadcast(means.select(F.col("d").alias("j"), F.col("sx").alias("mj"))),
            "j",
        )
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            F.floor(cov * F.lit(1e6) + F.lit(0.5)).cast("long").alias("cov_micro"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold_micro: int = 300000,
):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    clustering embeddings and dropping near-identical vectors WITHIN each
    cluster, keeping one representative per ε-ball.

    Determinized for oracle replay: assignment is nearest-centroid by inner
    product (idx tie-break, identical to ivf_assign); within a cluster a
    vector is DROPPED iff some lower-id cluster-mate has cosine ≥ threshold
    (greedy keep-lowest-id — the paper keeps a random member; lowest-id is
    the reproducible choice). Threshold compares integer micro-units via
    floor(cos·1e6 + 0.5) so both engines make the same boundary call.

    Scale shape: assignment is a narrow broadcast-literal map (k×dim
    floats); pairing is a list_id equi-join whose fan-out is bounded by
    cluster size — the paper's own cost model: k grows with the corpus so
    n/k stays fixed, and the join never degenerates to corpus-all-pairs.
    Vectors cross the shuffle once per join side (no band-explode
    multiplication). AQE splits skewed clusters.

    Returns (assigned, dropped): assigned = df + list_id; dropped =
    (list_id, id) rows that lost to a lower-id near-duplicate.
    """
    assigned = semantic_assign(df, centroids, id_col=id_col, vec_col=vec_col)
    dropped = semantic_drops(
        assigned, id_col=id_col, vec_col=vec_col,
        threshold_micro=threshold_micro,
    )
    return assigned, dropped


def semantic_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The assignment half of ``semantic_dedup``: df + ``list_id``
    (nearest centroid by inner product, lowest-cid tie-break). Split out
    (r12) so the embsig store can COMMIT the assignment once per corpus
    and ``semantic_drops`` can run from the stored snapshot."""
    if len(centroids) > 64:
        # Large-k regime (k scales with the corpus): a broadcast centroid
        # TABLE + argmax aggregate replaces the literal expression — an
        # n_lists×dim literal tree overflows whole-stage codegen into
        # interpreted evaluation (measured 5.1× growth at 4× rows). The
        # crossJoin fan-out combines map-side (all k rows of an id sit in
        # one input partition), so only n rows reach the exchange. Same
        # assignment rule bit-for-bit: max dot, lowest-cid tie-break.
        cents_df = df.sparkSession.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cid int, cv array<double>",
        )
        d = F.aggregate(
            F.zip_with(
                F.col(vec_col), F.col("cv"), lambda x, y: x.cast("double") * y
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        assigned_ids = (
            df.select(id_col, vec_col)
            .crossJoin(F.broadcast(cents_df))
            .select(id_col, "cid", d.alias("d"))
            .groupBy(id_col)
            .agg(
                F.max_by(
                    "cid", F.struct(F.col("d").alias("d"), (-F.col("cid")).alias("nc"))
                ).alias("list_id")
            )
        )
        # NOT persisted: measured 12.6s vs 22.4s at the 4× sweep anchor —
        # re-running the (map-side-combined) crossJoin per consumer is
        # cheaper here than materializing/serializing the vector column
        assigned = df.join(assigned_ids, id_col)
    else:
        assigned = ivf_assign(df, centroids, vec_col=vec_col, n_probe=1)
    return assigned


def semantic_drops(
    assigned: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold_micro: int = 300000,
) -> DataFrame:
    """The drop half of ``semantic_dedup``: within each ``list_id``, a
    vector is dropped iff some lower-id cluster-mate has cosine ≥ the
    micro-unit threshold. Takes any ``(list_id, id, vec)`` frame — the
    inline assignment or the stored embsig ``assign`` member (whose
    list_id bucketing makes this self-join exchange-free)."""
    a = assigned.select(
        "list_id", F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va")
    )
    b = assigned.select(
        "list_id", F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb")
    )
    cos = cosine_similarity(F.col("_va"), F.col("_vb"))
    return (
        a.join(b, "list_id")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(
            F.floor(cos * F.lit(1e6) + F.lit(0.5)).cast("long")
            >= F.lit(int(threshold_micro))
        )
        .select("list_id", F.col("_idb").alias(id_col))
        .distinct()
    )


# ---------------------------------------------------------------------------
# PCA top component via integer-exact power iteration — the dimensionality-
# reduction step covariance_matrix prepares for.
# ---------------------------------------------------------------------------
def power_iteration_micro(
    cov_rows: list[tuple[int, int, int]], dim: int, rounds: int = 3
) -> list[int]:
    """Power iteration over a micro-int covariance matrix, in EXACT
    arithmetic: v₀ = all-ones (1e6 micro units); each round computes the
    BIGINT matvec w = C·v (integer products, order-independent sums — repo
    parity rule #1) and renormalizes v = floor((w/max|w|)·1e6 + 0.5), where
    the ratio divides two int64s ≤ 2^53 so the double is IEEE-exact and
    every engine lands on the same integers. Returns the v_micro vector
    after ``rounds`` rounds — the dominant-eigenvector direction (sign
    fixed by the all-ones start). Pure Python ints (arbitrary precision);
    the DuckDB oracle replays the identical recurrence as chained CTEs.
    """
    import math

    c = [[0] * dim for _ in range(dim)]
    for i, j, m in cov_rows:
        c[i][j] = m
        c[j][i] = m
    v = [1_000_000] * dim
    for _ in range(rounds):
        w = [sum(c[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        mx = max(max(abs(x) for x in w), 1)
        v = [int(math.floor((x / mx) * 1e6 + 0.5)) for x in w]
    return v


def pca_top_component(
    df: DataFrame, vec_col: str, dim: int, rounds: int = 3
) -> DataFrame:
    """Dominant PCA component of an embedding column: the DISTRIBUTED work
    is the covariance (one Gram mapInPandas pass + a KB-sized partial-agg
    shuffle, row-count-invariant — covariance_matrix); the d×d matrix is
    bounded driver metadata at ANY corpus size (like k-means centroids or
    the bloom bitmap), so the ``rounds``-step power iteration runs exactly
    there. A fixed small ``rounds`` keeps the oracle replayable
    (production would iterate to tolerance; each extra round is one more
    chained CTE, not more cluster work).

    Output: (dim_i, v_micro) — the component direction in micro units,
    engine-exact (see power_iteration_micro).
    """
    spark = df.sparkSession
    cov = covariance_matrix(df, vec_col, dim).collect()
    v = power_iteration_micro(
        [(r["i"], r["j"], r["cov_micro"]) for r in cov], dim, rounds
    )
    return spark.createDataFrame(
        [(i, v[i]) for i in range(dim)], "dim_i long, v_micro long"
    )


def pca_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    rounds: int = 3,
) -> DataFrame:
    """Project every embedding onto the dominant PCA component — the
    REDUCTION step pca_top_component learns: proj = Σ_d x_d · v_d.

    Scale shape: the component is driver metadata (see pca_top_component);
    the projection itself is a ZERO-SHUFFLE codegen'd fold over the array
    column with the component as a single-parse literal array — at 100 TB
    this is a map-only pass fused into the scan. Output
    (id, proj_micro BIGINT): the double dot product micro-rounded (the
    1e-6 grid absorbs sum-order ulps, repo parity rule #1).
    """
    spark = df.sparkSession
    cov = covariance_matrix(df, vec_col, dim).collect()
    v = power_iteration_micro(
        [(r["i"], r["j"], r["cov_micro"]) for r in cov], dim, rounds
    )
    vlit = "array(" + ",".join(f"{x}D" for x in v) + ")"
    proj = (
        f"aggregate(zip_with({vec_col}, {vlit}, (x, y) -> x * y), "
        f"0D, (a, b) -> a + b) / 1e6"
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.expr(f"cast(floor({proj} * 1e6 + 0.5) as bigint)").alias("proj_micro"),
    )


def power_iteration_deflate_micro(
    cov_rows: list[tuple[int, int, int]],
    dim: int,
    k: int = 2,
    rounds: int = 3,
) -> list[list[int]]:
    """Top-k eigen-directions by power iteration + Hotelling deflation,
    every step engine-replayable:

    - component: ``power_iteration_micro`` (exact BIGINT matvec + IEEE
      ratio renormalization);
    - eigenvalue: Rayleigh quotient λ = floor(vᵀ(Cv) / vᵀv + 0.5), both
      sides as EXACT integers converted to double with one round-to-
      nearest each (Python float(int) ≡ SQL ::DOUBLE), then one division;
    - deflation: C ← C − floor((λ·vᵢ·vⱼ)/vᵀv + 0.5), the product exact in
      arbitrary-precision ints (HUGEINT in the oracle) before the same
      single double conversion.

    Returns k vectors of micro-int components. The fixed op order makes
    the DuckDB chained-CTE oracle land on identical integers.
    """
    import math

    c = [[0] * dim for _ in range(dim)]
    for i, j, m in cov_rows:
        c[i][j] = m
        c[j][i] = m
    comps: list[list[int]] = []
    for _ in range(k):
        v = [1_000_000] * dim
        for _ in range(rounds):
            w = [sum(c[i][j] * v[j] for j in range(dim)) for i in range(dim)]
            mx = max(max(abs(x) for x in w), 1)
            v = [int(math.floor((x / mx) * 1e6 + 0.5)) for x in w]
        comps.append(v)
        w = [sum(c[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        vw = sum(v[i] * w[i] for i in range(dim))  # exact ints
        vv = max(sum(x * x for x in v), 1)
        lam = int(math.floor(float(vw) / float(vv) + 0.5))
        for i in range(dim):
            for j in range(dim):
                c[i][j] -= int(
                    math.floor(float(lam * v[i] * v[j]) / float(vv) + 0.5)
                )
    return comps


def pca_top_components(
    df: DataFrame, vec_col: str, dim: int, k: int = 2, rounds: int = 3
) -> DataFrame:
    """Top-k PCA directions (see power_iteration_deflate_micro); same
    distributed/driver split as pca_top_component. Output
    (component, dim_i, v_micro), component 0-based in eigenvalue order."""
    spark = df.sparkSession
    cov = covariance_matrix(df, vec_col, dim).collect()
    comps = power_iteration_deflate_micro(
        [(r["i"], r["j"], r["cov_micro"]) for r in cov], dim, k, rounds
    )
    return spark.createDataFrame(
        [(ci, i, comps[ci][i]) for ci in range(k) for i in range(dim)],
        "component long, dim_i long, v_micro long",
    )


def two_stage_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix_dim: int = 16,
    shortlist: int = 20,
    k: int = 5,
) -> DataFrame:
    """Two-stage retrieval — THE standard large-scale ANN recipe:
    Stage 1 scores every (query, doc) on the vector PREFIX only
    (Matryoshka-truncated / PCA-front-loaded head — in production a
    separate stored column, often int8, that makes the scan 4-16×
    smaller) and keeps a per-query ``shortlist``; Stage 2 reranks ONLY
    the shortlist with full-dimension cosine and emits the top ``k``.

    At 100 TB the full-dim pass touches ``n_queries × shortlist`` rows
    instead of the corpus — the rerank join broadcasts the shortlist ids
    into the corpus scan. Deterministic (rounded-sim + id tie-breaks at
    BOTH stages), so the DuckDB oracle replays both passes exactly;
    recall vs the exact top-k is the prefix's information content,
    measured in tests rather than assumed.
    """
    pref = lambda col: F.slice(col, 1, prefix_dim)  # noqa: E731
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        pref(F.col(vec_col)).alias("qp"),
    )
    c1 = corpus.select(
        F.col(id_col).alias("neighbor_id"), pref(F.col(vec_col)).alias("cp")
    )
    s1 = F.round(cosine_similarity(F.col("qp"), F.col("cp")), 6)
    w1 = W.partitionBy("query_id").orderBy(
        F.col("s1").desc(), F.col("neighbor_id").asc()
    )
    short = (
        c1.crossJoin(F.broadcast(q.select("query_id", "qp")))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", s1.alias("s1"))
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    c2 = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    full = F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6)
    w2 = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        short.join(c2, "neighbor_id")  # shortlist broadcasts into the scan
        .join(F.broadcast(q.select("query_id", "qv")), "query_id")
        .select("query_id", "neighbor_id", full.alias("cosine"))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def adaptive_two_stage_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix_dim: int = 16,
    k: int = 5,
    oversample: int = 5,
) -> DataFrame:
    """``two_stage_topk`` with the shortlist width derived FROM THE DATA
    instead of folklore: measure the prefix's mean energy retention
    (``matryoshka_qc`` at ``prefix_dim``) and set

        shortlist = max(k, ceil(oversample * k / retention**2))

    Rationale: the prefix score is a noisy estimate of the full cosine
    whose information content scales with the retained energy fraction —
    a fully front-loaded head (retention → 1, trained Matryoshka/PCA
    embeddings) needs only ``oversample*k``; an iid worst case
    (retention = prefix_dim/dim) quadratically widens the net. Measured
    on the iid sf0.001 fixture (retention 0.504 at 32/64): shortlist 99
    → recall 0.92@5, vs 0.74@5 at the folklore 50
    (tests/test_operators.py::test_adaptive_two_stage_topk_recall).

    Cost: ONE extra narrow aggregate over the corpus (no shuffle beyond a
    1-row agg — at 100 TB, run it on a sample or reuse the stored QC row);
    the rerank still touches only n_queries × shortlist rows. Both the
    retention (integer micro-units) and the derived shortlist are
    deterministic, so a SQL oracle replays the whole adaptive pipeline.
    """
    import math

    qc = matryoshka_qc(corpus, id_col, vec_col, widths=(int(prefix_dim),)).first()
    # same arithmetic shape as the oracle: (BIGINT sum / BIGINT n) / 1e6
    retention = (qc["sum_retained_micro"] / qc["n_vecs"]) / 1e6
    retention = max(retention, 1e-6)  # zero-energy-corpus guard
    shortlist = max(int(k), int(math.ceil(oversample * k / retention**2)))
    return two_stage_topk(
        corpus,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        prefix_dim=prefix_dim,
        shortlist=shortlist,
        k=k,
    )


def matryoshka_qc(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    widths: tuple = (16, 32, 48),
) -> DataFrame:
    """Truncation QC for prefix-based retrieval (the Matryoshka question):
    per candidate width w, what fraction of each vector's ENERGY
    (Σ_{i≤w} x_i² / Σ x_i² — monotone with the full-vs-truncated cosine)
    does the prefix retain? Decides the ``two_stage_topk`` prefix_dim /
    int8-head width from data instead of folklore.

    Output per width: (width, n_vecs, min_retained_micro,
    sum_retained_micro) — each row's fraction is rounded to 6dp then
    integer-summed (order-free, the repo micro-unit rule); min is
    order-free by nature. Zero shuffles per width (narrow projections),
    one tiny (≤len(widths) keys) final agg.

    Zero-energy vectors (all-zero embeddings — upstream junk) have no
    defined retention (0/0): they are EXCLUDED from the QC, not smuggled
    in as NULLs that count in n_vecs but vanish from sum/min and skew the
    mean — the same junk ⇒ drop rule as the multimodal codecs.
    """
    energy = lambda col: F.aggregate(  # noqa: E731
        col, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
    )
    nonzero = df.filter(energy(F.col(vec_col)) > 0)
    parts = []
    for w in widths:
        frac = F.round(
            energy(F.slice(F.col(vec_col), 1, int(w))) / energy(F.col(vec_col)),
            6,
        )
        parts.append(
            nonzero.select(
                F.lit(int(w)).cast("long").alias("width"),
                F.round(frac * 1000000).cast("long").alias("retained_micro"),
            )
        )
    un = parts[0]
    for p in parts[1:]:
        un = un.unionByName(p)
    return un.groupBy("width").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("retained_micro").alias("min_retained_micro"),
        F.sum("retained_micro").alias("sum_retained_micro"),
    )


def _sql_l2sq(vec_col: str, off: int, vals: list[float]) -> str:
    """SQL fragment: squared L2 distance between a subvector slice
    (1-based ``off+1``, length ``len(vals)``) and a literal codeword —
    same left-to-right accumulation as _sql_dot."""
    arr = _sql_double_array(vals)
    return (
        f"aggregate(zip_with(slice({vec_col}, {off + 1}, {len(vals)}), {arr}, "
        f"(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def _sql_argmin_code(vec_col: str, off: int, cents: list[list[float]]) -> str:
    """SQL fragment: index of the nearest codeword (squared L2, ties to
    the lower code) for one subspace."""
    dists = "array(" + ",".join(_sql_l2sq(vec_col, off, c) for c in cents) + ")"
    return (
        f"element_at(array_sort(zip_with({dists}, "
        f"sequence(0, {len(cents) - 1}), "
        f"(d, i) -> struct(d AS d, i AS idx))), 1).idx"
    )


def pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 8,
    n_iter: int = 2,
) -> list[list[list[float]]]:
    """Product-quantization codebook training (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split the vector into ``m``
    subspaces and run ``n_iter`` Lloyd rounds per subspace — all subspaces
    trained in ONE job per round (a single scan assigns every subspace's
    code and one shuffle of m·k·d_sub keys updates every codebook).

    Same engine-stability recipe as kmeans_centroids: deterministic seeds
    (the k lowest-id vectors' slices), centroid components rounded to 6 dp
    between rounds, empty clusters keep their previous codeword — so the
    DuckDB oracle can replay training round by round.

    Returns ``books[s][code] = [d_sub floats]`` (driver metadata:
    m·k·d_sub floats — for 1B-vector corpora this is still KBs; train on a
    sample and broadcast, the search path below is unchanged).
    """
    # r14 (guide §5.3): dim used to be a separate first() driver action;
    # the seed collect below already fetches k full vectors, so the
    # dimension rides along (rows[0] = the lowest-id vector — any row
    # works, the column is fixed-width) — one job instead of two.
    rows = df.orderBy(id_col).limit(k).select(vec_col).collect()
    dim = len(rows[0][0])
    d_sub = dim // m
    books = [
        [[float(r[0][s * d_sub + j]) for j in range(d_sub)] for r in rows]
        for s in range(m)
    ]
    for _ in range(n_iter):
        subs = ", ".join(
            f"struct({s} AS m, ({_sql_argmin_code(vec_col, s * d_sub, books[s])}) AS code, "
            f"slice({vec_col}, {s * d_sub + 1}, {d_sub}) AS sv)"
            for s in range(m)
        )
        ex = (
            df.select(F.expr(f"explode(array({subs}))").alias("x"))
            .select("x.m", "x.code", F.posexplode("x.sv").alias("dim", "val"))
            .groupBy("m", "code", "dim")
            .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("c"))
            .collect()
        )
        for r in ex:  # absent (m, code) rows = empty cluster -> keep previous
            books[r["m"]][r["code"]][r["dim"]] = float(r["c"])
    return books


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[list[float]]],
) -> DataFrame:
    """Encode every vector to ``m`` codes (nearest codeword per subspace,
    squared L2, ties to the lower code). A narrow JVM-side map — at 100 TB
    this runs once at ingest and the 8·m-bit code column (vs 4·dim bytes
    of floats) is what the search path scans."""
    d_sub = len(books[0][0])
    cols = [
        F.expr(_sql_argmin_code(vec_col, s * d_sub, books[s])).alias(f"code_{s}")
        for s in range(len(books))
    ]
    return df.select(F.col(id_col), *cols)


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    m: int = 4,
    k: int = 8,
    n_iter: int = 2,
    topk: int = 5,
) -> DataFrame:
    """PQ search with Asymmetric Distance Computation: per query, a
    LUT of m·k exact subspace distances (query side stays un-quantized);
    each corpus vector's approximate distance is then m LUT lookups — no
    per-pair float vector math.

    Dataflow: train (driver-metadata codebooks) → encode corpus (narrow
    map) → explode codes to (vec_id, m, code) → broadcast-join the
    n_q·m·k LUT → integer-sum per (qid, vec_id) → per-query top-k window.
    Each subspace distance is micro-rounded to BIGINT before the sum, so
    the total is an order-free integer (repo parity rule) and the top-k
    tie-break (adc_micro, vec_id) is engine-exact.

    At corpus scale the (qid, vec_id) agg is the cost driver — compose
    with IVF (encode per-list residuals, probe a few lists) to bound it;
    the LUT/ADC path here is unchanged by that composition.

    Output: (qid, vec_id, adc_micro, rk) — ``topk`` rows per query.
    """
    books, flat = _pq_code_rows(corpus, id_col, vec_col, m, k, n_iter)
    lut = _pq_lut(queries, books, qid_col, vec_col)
    return _adc_topk(flat.join(F.broadcast(lut), ["m", "code"]), qid_col, id_col, topk)


def _pq_code_rows(corpus: DataFrame, id_col: str, vec_col: str, m: int,
                  k: int, n_iter: int) -> tuple[list, DataFrame]:
    """Train the codebooks and encode ``corpus``: the books and one
    (id, m, code) row per vector and subspace."""
    books = pq_train(corpus, id_col, vec_col, m=m, k=k, n_iter=n_iter)
    codes = pq_encode(corpus, id_col, vec_col, books)
    code_struct = ", ".join(
        f"struct({s} AS m, code_{s} AS code)" for s in range(m)
    )
    flat = codes.select(
        F.col(id_col), F.expr(f"explode(array({code_struct}))").alias("mc")
    ).select(id_col, "mc.m", "mc.code")
    return books, flat


def _adc_topk(hits: DataFrame, qid_col: str, id_col: str, topk: int) -> DataFrame:
    """Sum each (query, vector)'s LUT ``d_micro`` hits into ``adc_micro``
    and keep the ``topk`` smallest per query (id breaks ties)."""
    scored = (
        hits        .groupBy(qid_col, id_col)
        .agg(F.sum("d_micro").alias("adc_micro"))
    )
    w = W.partitionBy(qid_col).orderBy(
        F.col("adc_micro").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk)
        .select(qid_col, id_col, "adc_micro", "rk")
    )


def _pq_lut(
    queries: DataFrame,
    books: list[list[list[float]]],
    qid_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-query ADC lookup table: micro-rounded squared L2 from the
    (un-quantized) query subvectors to every codeword — n_q·m·k rows of
    broadcastable metadata."""
    m, k = len(books), len(books[0])
    d_sub = len(books[0][0])
    lut_struct = ", ".join(
        f"struct({s} AS m, {c} AS code, CAST(floor("
        f"{_sql_l2sq(vec_col, s * d_sub, books[s][c])} * 1e6 + 0.5D) AS BIGINT)"
        f" AS d_micro)"
        for s in range(m)
        for c in range(k)
    )
    return queries.select(
        F.col(qid_col), F.expr(f"explode(array({lut_struct}))").alias("e")
    ).select(qid_col, "e.m", "e.code", "e.d_micro")


def pq_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    n_lists: int = 4,
    n_probe: int = 2,
    m: int = 4,
    k: int = 8,
    n_iter: int = 2,
    topk: int = 5,
) -> DataFrame:
    """IVF-PQ composition (FAISS's IVFPQ shape, here without residual
    re-encoding — by_residual=False): a coarse quantizer routes each
    vector to one inverted list and each query probes its ``n_probe``
    nearest lists; ADC then scores ONLY the probed lists' codes.

    This is the piece that bounds pq_adc_topk's (qid, vec_id) aggregate
    at corpus scale: candidate volume drops from n_q·N to
    ~n_q·N·n_probe/n_lists, and on a partitioned table list_id prunes
    the scan itself (same argument as ivf_topk). With
    ``n_probe == n_lists`` the result is EXACTLY pq_adc_topk — the
    correctness anchor the tests pin.

    Coarse assignment reuses ivf_assign (argmax dot, ties to the lower
    list id); codebooks/encoding/LUT are the plain PQ pieces above.
    Output: (qid, vec_id, adc_micro, rk).
    """
    cents = ivf_centroids_from_sample(corpus, n_lists, id_col, vec_col)
    # r14: eager cut of the tiny query frame — it feeds the probe
    # assignment AND the ADC LUT, and each replay is a full corpus
    # TakeOrdered when the caller passes emb.orderBy(...).limit(q).
    queries = cut(queries)
    assigned = ivf_assign(
        corpus.select(F.col(id_col), F.col(vec_col)), cents,
        vec_col=vec_col, n_probe=1,
    ).select(id_col, "list_id")
    probes = ivf_assign(
        queries.select(F.col(qid_col), F.col(vec_col)), cents,
        vec_col=vec_col, n_probe=n_probe,
    ).select(qid_col, "list_id")
    cand = assigned.join(F.broadcast(probes), "list_id").select(
        qid_col, id_col
    )
    books, flat = _pq_code_rows(corpus, id_col, vec_col, m, k, n_iter)
    lut = _pq_lut(queries, books, qid_col, vec_col)
    return _adc_topk(
        flat.join(cand, id_col).join(F.broadcast(lut), [qid_col, "m", "code"]),
        qid_col, id_col, topk,
    )
