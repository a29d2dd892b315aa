"""Deduplication operators over document tables.

Four tiers, cheapest first — the standard LLM-corpus dedup ladder:

1. **Exact** — hash-groupBy on content (or md5 fingerprint). One shuffle,
   AQE handles skew. `dropDuplicates` for keep-any semantics;
   `exact_dedup_representatives` for deterministic keep-min-id (the
   SQL-checkable form).
2. **N-gram Jaccard (blocked exact)** — word-shingle Jaccard over candidate
   pairs restricted to cheap blocks (lang × length bucket). Exact within a
   block; the block join bounds the O(n²) blowup. This is also the oracle
   for the approximate tiers.
3. **MinHash LSH** — `minhash_near_dup`: xxhash64 minhashes over word
   shingles in codegen'd JVM expressions; banding keeps the candidate set
   sub-quadratic. The 100 TB path: cost ~ O(n · bands) shuffle, never
   all-pairs.
4. **SimHash** — 60-bit rotation-invariant signature (md5-derived token
   hashes, bitwise majority vote); near-dups share signatures in most bands.
   Entirely JVM-side bit arithmetic, cross-checkable in SQL.

Plus **embedding near-dup**: cosine-threshold pairs over dense vectors
(semantic dedup) — brute-force blocked variant here, ANN variant in
similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import md5_hash60, tokens, word_shingles
from ..functions.vector_functions import cosine_similarity
from ..session import cut

SIMHASH_BITS = 60


# --------------------------------------------------------------------------
# Tier 1: exact
# --------------------------------------------------------------------------
def exact_dedup_representatives(
    df: DataFrame, content_col: str, id_col: str
) -> DataFrame:
    """Deterministic exact dedup: one representative (min id) per distinct
    content, with the duplicate count. Partial aggregation map-side, one
    shuffle on the md5 fingerprint (never on the full content bytes — at
    100 TB the fingerprint shuffle is 16 bytes/row vs document bytes)."""
    return (
        df.select(F.md5(F.col(content_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --------------------------------------------------------------------------
# Tier 2: blocked exact n-gram Jaccard
# --------------------------------------------------------------------------
def build_shingle_base(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    block_cols: list[Column] | None = None,
    sort_sets: bool = True,
    out_col: str = "sset",
) -> DataFrame:
    """THE tokenize→shingle→distinct derivation every text-dedup tier
    consumes (exact AllPairs, containment, minhash, and the recall QC) —
    one definition so the tiers can never silently desynchronize (the r8
    review found the recall query and the containment operator each
    hand-copying it). Filters on token count BEFORE building shingles: a
    size(shingles) > 0 filter would be pushed below the projection and
    re-evaluate the whole shingle expression against raw text per row.
    ``sort_sets`` adds the canonical array_sort the AllPairs verify uses;
    minhash skips it (its hashes are order-free)."""
    cols = [
        F.col(id_col).alias("id"),
        tokens(F.col(text_col)).alias("toks"),
    ]
    if block_cols is not None:
        cols.append(F.struct(*block_cols).alias("block"))
    sh = F.array_distinct(word_shingles(F.col("toks"), k))
    if sort_sets:
        sh = F.array_sort(sh)
    out = [F.col("id"), sh.alias(out_col)]
    if block_cols is not None:
        out.append(F.col("block"))
    return df.select(*cols).filter(F.size("toks") >= k).select(*out)


def frequency_ordered_prefix(
    base: DataFrame,
    threshold: float,
    set_col: str = "sset",
    group_cols: tuple = ("block",),
) -> DataFrame:
    """The shared AllPairs prefix machinery (Bayardo WWW'07 prefixes under
    the Vernica et al. SIGMOD'10 global-frequency-ascending order): emits
    the (id, *group_cols, n, p, s) prefix stream where each set keeps its
    |X| − ⌈t·|X|⌉ + 1 RAREST shingles — any pair with overlap ≥ t·|X|
    must share one. ``p`` (r9) is the element's 1-BASED POSITION in the
    full frequency-ordered set — the PPJoin positional filter's input
    (Xiao, Wang, Lin & Yu, WWW'08): all common elements of a pair sit at
    positions ≥ the matched element's, so 1 + min(|A|−p_a, |B|−p_b) upper
    bounds the overlap reachable from that match, and any match whose
    bound misses the overlap threshold can be dropped BEFORE the
    candidate distinct — losslessly, because the pair's first common
    element (in this order) always generates a bound ≥ the true overlap.
    Consumed by jaccard_pairs (prefix×prefix with length + positional
    filters) and the containment tier (prefix×full inverted index; the
    superset side has no prefix bound). The frequency table keeps
    only df ≥ 2 (df-1 shingles need no entry) and is NOT hint-forced —
    AQE broadcasts it when small.

    Rounding safety (r9): every verify gate in the family is
    ``round(jac, 4) ≥ t`` (mirroring the DuckDB oracle), so a pair with
    true Jaccard in [t − 5e-5, t) still PASSES via rounding. The prefix
    length therefore uses t_eff = t − 5e-5 — a prefix one element longer
    in rare edge cases, never a dropped rounding-marginal pair."""
    t_eff = max(float(threshold) - 5e-5, 0.0)
    freq = (
        base.select(F.explode(set_col).alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df_s"))
        .filter(F.col("df_s") >= 2)
    )
    n = F.size(set_col)
    gcols = list(group_cols)
    return (
        base.select("id", *gcols, n.alias("n"), F.explode(set_col).alias("s"))
        .join(freq, "s", "left")
        .select(
            "id",
            *gcols,
            "n",
            F.struct(
                F.coalesce("df_s", F.lit(1)).alias("df_s"), F.col("s").alias("s")
            ).alias("e"),
        )
        .groupBy("id", *gcols, "n")
        .agg(F.array_sort(F.collect_list("e")).alias("ordered"))
        .select(
            "id",
            *gcols,
            "n",
            F.posexplode(
                F.slice(
                    F.transform(F.col("ordered"), lambda e: e["s"]),
                    F.lit(1),
                    F.greatest(
                        F.col("n")
                        - F.ceil(F.col("n") * F.lit(t_eff)).cast("int")
                        + F.lit(1),
                        F.lit(1),
                    ),
                )
            ).alias("p0", "s"),
        )
        .select("id", *gcols, "n", (F.col("p0") + 1).alias("p"), "s")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[Column],
    k: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """All pairs within a block with shingle-Jaccard ≥ threshold —
    LOSSLESSLY pruned by AllPairs prefix + length filtering (Bayardo,
    Ma & Srikant, WWW'07), so the output is identical to the naive
    within-block all-pairs join while the candidate count stays
    sub-quadratic.

    Why not the plain block self-join: block-key cardinality is fixed,
    so blocks grow linearly with the corpus and within-block pairs grow
    QUADRATICALLY (measured: 2.2s → 71s → 1067s across 0.01/0.1/0.4×
    tiers on dedup_clusters_docs). The two classic filters are exact:

    - length filter: Jaccard(A,B) ≥ t ⇒ t·|A| ≤ |B| ≤ |A|/t;
    - prefix filter: order each distinct-shingle set canonically and
      keep the first |X| − ⌈t·|X|⌉ + 1 elements; any pair with
      Jaccard ≥ t MUST share a prefix element, so exploding prefixes
      and equi-joining on (block, prefix shingle) generates a candidate
      superset. 3-word shingles are mostly rare, so candidates collapse
      to near the true-pair count.

    Canonical order (round 7): GLOBAL-FREQUENCY ASCENDING, ties broken by
    the shingle string — the distributed AllPairs/PPJoin recipe of Vernica,
    Carey & Li (SIGMOD'10): compute per-shingle document frequency over the
    same corpus, reorder every set rarest-first, and take prefixes under
    that order. Any global total order keeps the prefix filter lossless
    (the oracle verifies the OUTPUT, not the order); frequency-ascending
    minimizes it — a prefix then holds a set's RAREST shingles, so the
    (block, shingle) equi-join collides only where sets genuinely share
    rare content (measured on dedup_clusters_docs sf0.1: 7.4s → see
    BASELINE.md round-7 row). The frequency table is filtered to df ≥ 2
    (df-1 shingles coalesce to 1, so the table stays near-empty on
    low-repetition corpora) and is NOT hint-forced: AQE broadcasts it when
    small and falls back to a shuffle join on pathological corpora.

    Dataflow: shingle sets → df agg (map-side combined, shingle-keyed) →
    per-set reorder + prefix explode → (block, shingle) equi-join of the
    narrow (id, block, shingle) stream → distinct candidate pairs →
    rejoin the two shingle arrays BY ID (keys-only shuffles; arrays move
    once per side) → exact Jaccard verify (order-insensitive, so the
    verify side keeps the original lexicographic arrays).

    Set semantics via array_intersect/array_union (both dedup — matching
    DuckDB's list_intersect/list_distinct).
    """
    # The shingle pipeline feeds THREE consumers (df agg, prefix
    # stream, verify-side sets); materialize it once instead of
    # re-tokenizing the corpus per consumer. localCheckpoint stores
    # executor-local blocks — no driver collect, partitioning
    # preserved. (The r8 prebuilt-base fusion seam was removed in r11:
    # its one consumer, minhash_band_recall_docs, probes the committed
    # shingle-base store now.)
    base = cut(
        build_shingle_base(
            df, id_col, text_col, k=k, block_cols=block_cols, sort_sets=True
        ),
        eager=False,
    )
    pref = frequency_ordered_prefix(base, threshold)
    return _allpairs_jaccard_verify(
        pref, base.select("id", "sset"), threshold, block_keys=("block",)
    )


def _allpairs_jaccard_verify(
    pref: DataFrame,
    sets: DataFrame,
    threshold: float,
    block_keys: tuple = ("block",),
) -> DataFrame:
    """The candidate-join + exact-verify core shared by the in-line
    AllPairs path (jaccard_pairs) and the stored shingle-base path
    (jaccard_pairs_stored). ``pref``: the (id, *block_keys, n, p, s)
    prefix stream — frequency-ordered, 1-based positions; ``sets``:
    (id, sset) with sset distinct.

    Lossless candidate filters, all under the ROUNDING-SAFE effective
    threshold (the verify gate is round(jac,4) ≥ t, so a pair at
    t − 5e-5 still passes — filters must not drop it):
      length:     t·|A| ≤ |B| ≤ |A|/t
      positional: PPJoin (Xiao et al., WWW'08) — overlap reachable from
        a match at 1-based positions (p_a, p_b) is ≤ 1 + min(|A|−p_a,
        |B|−p_b); Jaccard ≥ t ⟺ overlap·(1+t) ≥ t·(|A|+|B|), so a match
        whose bound·(1+t) < t·(|A|+|B|) cannot witness a true pair. The
        pair's FIRST common element (frequency order) lies inside both
        prefixes and has every common element at later positions, so
        its match always survives — dropping the others only thins the
        pre-distinct candidate stream (measured: the dominant cost of
        the exact-dedup family).
    """
    pa, pb = pref.alias("pa"), pref.alias("pb")
    t_eff = max(float(threshold) - 5e-5, 0.0)
    ubound = F.lit(1) + F.least(
        F.col("pa.n") - F.col("pa.p"), F.col("pb.n") - F.col("pb.p")
    )
    # NULL-SAFE block equality (r11 review finding): the in-line path
    # compares block STRUCTS, and Spark struct equality treats NULL
    # fields as equal — two NULL-lang docs share a block there. Bare
    # `==` on the unpacked columns would silently drop such pairs from
    # the stored path; `eqNullSafe` restores exact parity.
    block_eq = [
        F.col(f"pa.{c}").eqNullSafe(F.col(f"pb.{c}")) for c in block_keys
    ]
    cond = (
        (F.col("pa.s") == F.col("pb.s"))
        & (F.col("pa.id") < F.col("pb.id"))
        & (F.col("pb.n") * F.lit(t_eff) <= F.col("pa.n"))
        & (F.col("pa.n") * F.lit(t_eff) <= F.col("pb.n"))
        & (
            ubound.cast("double") * F.lit(1.0 + t_eff)
            >= (F.col("pa.n") + F.col("pb.n")) * F.lit(t_eff) - F.lit(1e-6)
        )
    )
    for eq in block_eq:
        cond = cond & eq
    cand = (
        pa.join(pb, cond)
        .select(F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b"))
        .distinct()
    )
    verify = (
        cand.join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("sset", "sa"), "id_a")
        .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("sset", "sb"), "id_b")
    )
    # |A ∪ B| = |A| + |B| − |A ∩ B| exactly (sset is distinct by
    # construction) — r9: skips materializing array_union's hashed
    # concat per candidate, the single hottest expression of the family.
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size("sa") + F.size("sb") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        verify.select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# Stored AllPairs shingle base (r11, the r10 verdict's task #4): the
# tokenize→shingle→frequency-order derivation, committed once per corpus
# --------------------------------------------------------------------------
def shingle_base_store(spark, sf_dir: str, k: int = 3, force: bool = False) -> str:
    """Build-once stored shingle base for the documents table — the same
    build/probe amortization as the winnowing-fingerprint store
    (text.winnow_fingerprint_store) applied to THE most recomputed
    derivation in the repo: before r11, six exact-Jaccard consumers
    (pairs, clusters, two-star, keep-best, review queue, containment)
    plus the minhash recall QC each re-ran tokenize → 3-shingle →
    global-df aggregation → per-set frequency reorder over the full
    corpus (~29 s of the 281 s sf0.1 bench). At 100 TB that is a nightly
    index job re-run per REPORT. Two member tables, committed as ONE
    transaction (a torn pair — new positions, old sets — would break the
    verify stage's exactness):

    - ``base`` (id, lang, bucket, sset): the canonical distinct-sorted
      shingle sets, BUCKETED BY id — the verify stage joins candidates
      back to both sides' sets by id, so the stored side re-shuffles
      nothing.
    - ``fpos`` (id, lang, bucket, n, p, s): the FULL positional explode
      in global-frequency-ascending order (frequency_ordered_prefix at
      threshold 0.0 — slice length n, i.e. every element with its
      1-based rank p), BUCKETED BY s — the candidate self-join key, so
      both join sides read pre-partitioned. One stored order serves
      EVERY threshold: a consumer at threshold t filters to
      p ≤ max(n − ⌈n·t_eff⌉ + 1, 1), which is exactly the prefix
      frequency_ordered_prefix(t) would emit (same global order, same
      rounding-safe t_eff), and the prefix-filter losslessness proof
      only needs one fixed global total order. The containment tier's
      full inverted index is the UNFILTERED fpos — free.

    Storing fpos (linear in corpus tokens — the classic inverted-index
    shape) is NOT the candidate-stream store SELFREVIEW_r10.md #8
    refuted: candidates are pair-mass (quadratic in cluster size) and
    threshold-specific; fpos is corpus-mass and threshold-free.

    Root discipline: ``stores.open_store`` keyed on k (see stores.py).
    The registered build query passes force=True so the bench bills the
    corpus-scale build honestly."""
    from . import stores, tableformat

    def _build(r):
        from ..session import load_table

        docs = load_table(spark, sf_dir, "documents")
        base = build_shingle_base(
            docs,
            "doc_id",
            "text",
            k=k,
            block_cols=[F.col("lang"), F.expr("n_chars div 200").alias("bucket")],
            sort_sets=True,
        ).select(
            "id",
            F.col("block.lang").alias("lang"),
            F.col("block.bucket").alias("bucket"),
            "sset",
        )
        # two member writes + the df agg all consume base: materialize
        # the tokenize/shingle pass once (executor-local blocks)
        base = cut(base)
        fpos = frequency_ordered_prefix(
            base, threshold=0.0, group_cols=("lang", "bucket")
        )
        tableformat.commit_atomic(
            r,
            {
                "base": ("bucketed", base, "id", 8),
                "fpos": ("bucketed", fpos, "s", 8),
            },
        )

    return stores.open_store(
        spark, "shinglebase", sf_dir, "documents", (k,), _build, force=force
    )


def shingle_base_probe(spark, sf_dir: str, k: int = 3):
    """The committed shingle-base snapshot (build-if-absent, then stored
    reads only): returns (base, fpos) — see shingle_base_store."""
    from . import tableformat

    root = shingle_base_store(spark, sf_dir, k=k)
    return (
        tableformat.read_atomic(spark, root, "base"),
        tableformat.read_atomic(spark, root, "fpos"),
    )


def stored_prefix(fpos: DataFrame, threshold: float) -> DataFrame:
    """Filter the stored full positional stream down to exactly the
    AllPairs prefix frequency_ordered_prefix(threshold) would emit:
    keep positions p ≤ max(n − ⌈n·t_eff⌉ + 1, 1) under the same
    rounding-safe effective threshold."""
    t_eff = max(float(threshold) - 5e-5, 0.0)
    bound = F.greatest(
        F.col("n") - F.ceil(F.col("n") * F.lit(t_eff)).cast("int") + F.lit(1),
        F.lit(1),
    )
    return fpos.filter(F.col("p") <= bound)


#: Below this threshold the stored path switches from prefix+verify to
#: count-aggregation: the AllPairs prefix keeps n − ⌈n·t⌉ + 1 elements,
#: so at t < 0.25 every prefix retains > 75% of its set and the prefix
#: join's output is already within a small constant of the FULL
#: co-occurrence mass — the candidate distinct + per-pair array_intersect
#: verify is then pure extra cost over counting the co-occurrence rows
#: directly (measured at sf0.1: review queue at t=0.02, 4.6 s → 1.1 s).
#: At higher thresholds prefix+verify stays the scale-safe default: the
#: rarest-first prefix EXCLUDES hot boilerplate shingles, so on a corpus
#: with a df=10⁶ shingle the candidate stream collapses while the
#: count path would pay df² co-occurrence rows — the property that
#: matters at 100 TB and that a boilerplate-free synthetic bench
#: cannot show.
JACCARD_COUNT_STRATEGY_BELOW = 0.25


def jaccard_pairs_stored(
    spark, sf_dir: str, threshold: float, k: int = 3, strategy: str | None = None
) -> DataFrame:
    """jaccard_pairs over the committed shingle base: probe the stored
    (base, fpos) snapshot and produce exactly the pairs
    jaccard_pairs(docs, block_cols=[lang, n_chars div 200], k, threshold)
    returns, via one of two value-identical plans:

    - ``prefix`` (default for t ≥ JACCARD_COUNT_STRATEGY_BELOW): filter
      fpos to the threshold's AllPairs prefix and run the shared
      candidate+verify core — few candidates at high t, hot-shingle-safe.
    - ``count`` (default below): self-join the FULL positional stream on
      (lang, bucket, s) under the length filter and COUNT co-occurrence
      rows per pair — |A∩B| exactly (sset is distinct), so
      jac = inter/(|A|+|B|−inter) with no array rejoin and no distinct;
      the groupBy partial-aggregates map-side on the bucketed join's
      output. Right when the prefix would be nearly full anyway.

    The corpus-scale tokenize/df/reorder cost is paid once per corpus by
    shingle_base_store either way."""
    base, fpos = shingle_base_probe(spark, sf_dir, k=k)
    if strategy is None:
        strategy = (
            "count" if threshold < JACCARD_COUNT_STRATEGY_BELOW else "prefix"
        )
    if strategy == "count":
        t_eff = max(float(threshold) - 5e-5, 0.0)
        ix = fpos.select("id", "lang", "bucket", "n", "s")
        a, b = ix.alias("a"), ix.alias("b")
        pairs = (
            a.join(
                b,
                # eqNullSafe on the block columns: parity with the
                # in-line struct-equality blocks (NULL lang/bucket rows
                # share a block) — see _allpairs_jaccard_verify
                F.col("a.lang").eqNullSafe(F.col("b.lang"))
                & F.col("a.bucket").eqNullSafe(F.col("b.bucket"))
                & (F.col("a.s") == F.col("b.s"))
                & (F.col("a.id") < F.col("b.id"))
                & (F.col("b.n") * F.lit(t_eff) <= F.col("a.n"))
                & (F.col("a.n") * F.lit(t_eff) <= F.col("b.n")),
            )
            .groupBy(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.n").alias("na"),
                F.col("b.n").alias("nb"),
            )
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        jac = F.col("inter").cast("double") / (
            F.col("na") + F.col("nb") - F.col("inter")
        ).cast("double")
        return (
            pairs.select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
    return _allpairs_jaccard_verify(
        stored_prefix(fpos, threshold),
        base.select("id", "sset"),
        threshold,
        block_keys=("lang", "bucket"),
    )


# --------------------------------------------------------------------------
# Tier 3: MinHash LSH (approximate, sub-quadratic)
# --------------------------------------------------------------------------
def _minhash_bands(
    df, id_col, text_col, k, num_hash_tables, seed, hash_fn, band_r,
    prehash_fn, prebuilt_shingles=None,
):
    """Shared signature machinery for minhash_near_dup /
    minhash_incremental_pairs: shingle sets + (band, key) explode.
    Returns (base(id, shingles[, hvals]), exploded(id, bk)).
    ``prebuilt_shingles`` (r8 fusion seam): an already-materialized
    (id, shingles) frame — shingles = array_distinct(word_shingles(toks))
    with the size(toks) >= k filter applied, exactly what the in-line
    branch builds — so a caller running BOTH the exact and the minhash
    pipeline (minhash_band_recall_docs) tokenizes the corpus once."""
    if hash_fn is None:
        def hash_fn(s, i):
            return F.xxhash64(s, F.lit(seed + i))
    if prebuilt_shingles is not None:
        base = prebuilt_shingles
    else:
        base = build_shingle_base(
            df, id_col, text_col, k=k, sort_sets=False, out_col="shingles"
        )
    if prehash_fn is not None:
        base = base.withColumn("hvals", F.transform("shingles", prehash_fn))
    if prebuilt_shingles is None:
        base = cut(base)

    def _table_hash(idx):
        # One-ARG lambda per table: a defaulted second param (lambda s,
        # i=i: ...) makes PySpark treat it as an (element, index) lambda
        # and silently bind the array POSITION over the table index.
        return lambda s: hash_fn(s, idx)

    hash_src = "hvals" if prehash_fn is not None else "shingles"
    mh_cols = [
        F.array_min(F.transform(hash_src, _table_hash(i))).alias(f"mh{i}")
        for i in range(num_hash_tables)
    ]
    sigs = cut(base.select("id", *mh_cols))
    n_bands = num_hash_tables // band_r
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh{bi * band_r + j}").cast("string")
                        for j in range(band_r)
                    ],
                ).alias("key"),
            )
            for bi in range(n_bands)
        ]
    )
    exploded = sigs.select("id", F.explode(bands).alias("bk"))
    return base, exploded


def _jaccard_verify(cand: DataFrame, base_a: DataFrame, base_b: DataFrame,
                    a: str, b: str, min_jaccard: float) -> DataFrame:
    """Candidate pairs ``(a, b)`` with their exact shingle Jaccard
    ``est_jaccard`` (4 dp) from ``base_a``/``base_b``, kept at ``min_jaccard``."""
    sa = base_a.select(F.col("id").alias(a), F.col("shingles").alias("sh_a"))
    sb = base_b.select(F.col("id").alias(b), F.col("shingles").alias("sh_b"))
    # |A ∪ B| = |A| + |B| − |A ∩ B| (shingles distinct by construction)
    # — the r9 union-free verify, value-identical to array_union
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        cand.join(sa, a)
        .join(sb, b)
        .select(a, b, F.round(jac, 4).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= min_jaccard)
    )


def minhash_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hash_tables: int = 8,
    jaccard_distance_threshold: float = 0.8,
    seed: int = 42,
    hash_fn=None,
    band_r: int = 1,
    prehash_fn=None,
    prebuilt_shingles: DataFrame | None = None,
) -> DataFrame:
    """Approximate near-dup pairs via MinHash LSH, entirely in codegen'd
    JVM expressions (no ML pipeline, no Python in the hot path).

    Per document: ``num_hash_tables`` minhashes, each
    ``min(xxhash64(shingle, seed_i))`` over the shingle set (one
    ``transform``+``array_min`` per hash — narrow, vectorized). Candidate
    generation is the OR-construction: explode (table_id, minhash) keys,
    hash-join on key equality — pairs sharing ANY minhash become candidates,
    the same banding scheme as ml.feature.MinHashLSH with r=1. Candidates
    are verified with EXACT shingle Jaccard (array_intersect/array_union on
    the two documents' shingle sets) and filtered at
    ``1 - jaccard_distance_threshold``.

    100 TB shape: cost is O(n·tables) explode + one shuffle on 8-byte hash
    keys + O(candidates) verify joins. Shingle arrays are NOT carried through
    the band explode (they'd multiply shuffle bytes by num_hash_tables);
    candidates rejoin the base table by id instead.

    ``hash_fn(shingle_col, table_idx) -> Column`` overrides the per-table
    hash family. Default: ``xxhash64(s, seed+i)`` — fastest JVM path.
    Passing the md5-based portable family (see registry.dedup_minhash_docs)
    makes the WHOLE algorithm replayable in DuckDB, turning the approximate
    operator into a value-checked one at identical banding semantics.

    ``prehash_fn(shingle_col) -> Column``: optional shared base hash. When
    given, each shingle is hashed ONCE into a sibling ``hvals`` array (paid
    once, inside the base materialization) and
    ``hash_fn`` receives the prehashed value instead of the raw shingle.
    Without it, an expensive base hash inside ``hash_fn`` (e.g. md5) is
    re-evaluated per table — Spark does not CSE across separate
    higher-order-function lambda bodies, so 8 tables = 8 md5 passes.

    ``band_r`` = minhashes AND-ed per band (classic (b, r) LSH):
    ``num_hash_tables // band_r`` bands, candidate iff ALL r hashes of some
    band agree — P(candidate) = 1−(1−j^r)^b. r=1 (the OR-construction)
    maximizes recall but floods the verify stage when baseline inter-doc
    similarity is high (a tiny-vocabulary corpus at r=1 yields ~100× the
    candidates of r=2 for the same table count); raise r to trade recall
    for candidate volume.
    """
    base, exploded = _minhash_bands(
        df, id_col, text_col, k, num_hash_tables, seed, hash_fn, band_r,
        prehash_fn, prebuilt_shingles=prebuilt_shingles,
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    cand = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _jaccard_verify(
        cand, base, base, "id_a", "id_b", 1.0 - jaccard_distance_threshold
    )


def minhash_incremental_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hash_tables: int = 8,
    jaccard_distance_threshold: float = 0.8,
    seed: int = 42,
    hash_fn=None,
    band_r: int = 1,
    prehash_fn=None,
    prebuilt_shingles_corpus: DataFrame | None = None,
    prebuilt_shingles_batch: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL near-dup: pair a NEW batch against the existing corpus
    only — the production ingest pattern. Nightly ingest must answer "is
    this new document a near-dup of anything already in the corpus?"
    WITHOUT re-pairing corpus×corpus (which minhash_near_dup over the
    concatenation would do, re-shuffling 100 TB of band keys per batch).

    Same (b, r) banding and exact-Jaccard verify as minhash_near_dup, but
    the candidate join is batch-bands ⋈ corpus-bands: cost is
    O(|batch|·tables) new band keys + the matching candidates. In
    production the corpus side of this join is a STORED band index
    (signatures persisted at ingest time, bucketed by band key so the
    join prunes to touched buckets); here it is computed from the corpus
    frame — the JOIN SHAPE is the thing this operator pins. Ids must be
    disjoint across the two frames.

    ``prebuilt_shingles_corpus`` / ``prebuilt_shingles_batch``: the same
    (id, shingles) seam minhash_near_dup exposes, per side — minhash over
    a stored sorted-distinct shingle set equals minhash over the inline
    derivation (array_min is order-free, the set is identical), so both
    sides can ride the committed shingle base instead of re-tokenizing.

    Output: (corpus_id, batch_id, est_jaccard ≥ 1−threshold).
    """
    cbase, cbands = _minhash_bands(
        corpus, id_col, text_col, k, num_hash_tables, seed, hash_fn, band_r,
        prehash_fn, prebuilt_shingles=prebuilt_shingles_corpus,
    )
    bbase, bbands = _minhash_bands(
        batch, id_col, text_col, k, num_hash_tables, seed, hash_fn, band_r,
        prehash_fn, prebuilt_shingles=prebuilt_shingles_batch,
    )
    cand = (
        cbands.alias("a")
        .join(bbands.alias("b"), F.col("a.bk") == F.col("b.bk"))
        .select(
            F.col("a.id").alias("corpus_id"), F.col("b.id").alias("batch_id")
        )
        .dropDuplicates(["corpus_id", "batch_id"])
    )
    return _jaccard_verify(
        cand, cbase, bbase, "corpus_id", "batch_id", 1.0 - jaccard_distance_threshold
    )


# --------------------------------------------------------------------------
# Tier 4: SimHash
# --------------------------------------------------------------------------
def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash per document, pure bit arithmetic.

    Each token hashes to 60 bits (md5-derived, cross-engine deterministic);
    bit i of the signature is the majority vote of bit i over the document's
    tokens. Computed as 60 conditional sums over the exploded token list —
    one narrow explode + one grouped aggregation, no UDF.
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", md5_hash60(F.col("tok")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("id").agg(*votes)
    sig = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig + bit
    return agg.select(F.col("id"), sig.alias("simhash"))


def band_keys(sig: Column, n_bands: int, band_bits: int, shift=F.shiftright) -> Column:
    """``(band, key)`` structs: the ``n_bands`` low-to-high ``band_bits``-bit
    chunks of the signature ``sig``, cut with ``shift``."""
    return F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                shift(sig, bi * band_bits)
                .bitwiseAND(F.lit((1 << band_bits) - 1))
                .alias("key"),
            )
            for bi in range(n_bands)
        ]
    )


def hamming_verify(joined: DataFrame, sig: str, max_hamming: int) -> DataFrame:
    """Distinct ``(id_a, id_b, hamming)`` of a band join of sides ``a``/``b``
    whose signatures ``sig`` differ in at most ``max_hamming`` bits."""
    cand = joined.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col(f"a.{sig}").alias("sig_a"),
        F.col(f"b.{sig}").alias("sig_b"),
    ).dropDuplicates(["id_a", "id_b"])
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def simhash_hamming_pairs(
    sig_df: DataFrame, max_hamming: int = 3, band_bits: int = 15
) -> DataFrame:
    """Near-dup candidates from SimHash signatures: band the 60 bits into
    60/band_bits chunks; pairs agreeing on ≥1 band (pigeonhole guarantee for
    hamming ≤ bands-1) are verified with an exact popcount filter."""
    n_bands = SIMHASH_BITS // band_bits
    bands = band_keys(F.col("simhash"), n_bands, band_bits)
    exploded = sig_df.select("id", "simhash", F.explode(bands).alias("bk"))
    a, b = exploded.alias("a"), exploded.alias("b")
    return hamming_verify(
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id"))),
        "simhash", max_hamming,
    )


def simhash_multiprobe_pairs(
    sig_df: DataFrame, max_hamming: int = 7, band_bits: int = 15
) -> DataFrame:
    """Multi-probe SimHash pairs (r9): the query-time recall extension of
    simhash_hamming_pairs — instead of adding hash tables (more state),
    each signature ALSO probes every single-bit variant of each band key
    (Lv et al., VLDB'07 multi-probe LSH, specialized to Hamming space).
    A pair within hamming ``h`` has some band with ≤ ⌊h/n_bands⌋ errors
    (pigeonhole), so exact-band matching guarantees h ≤ n_bands−1 while
    1-flip probing guarantees h ≤ 2·n_bands−1 — with 60 bits in 4 bands:
    h ≤ 7 instead of h ≤ 3, for 16× probe-key volume instead of 2× the
    stored tables. Probing is one-sided (key_a ⊕ flip = key_b is
    symmetric in a/b, so probing the a-side covers every pair). With the
    exact popcount verify at ``max_hamming = 2·n_bands−1`` the output is
    EXACTLY the brute-force hamming ≤ 7 pair set — recall is a theorem,
    and the oracle replays the all-pairs form. At corpus scale, carry
    the signature through the explode and dedup candidates with the
    first-agreeing-(band, flip) filter (the hyperplane_lsh_pairs trick)
    instead of this dropDuplicates."""
    n_bands = SIMHASH_BITS // band_bits
    base = sig_df.select(
        "id",
        "simhash",
        F.explode(band_keys(F.col("simhash"), n_bands, band_bits)).alias("bk"),
    ).select("id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    flips = [0] + [1 << i for i in range(band_bits)]
    probe = base.select(
        "id",
        "simhash",
        "band",
        F.explode(
            F.array(*[F.col("key").bitwiseXOR(F.lit(fl)) for fl in flips])
        ).alias("key"),
    )
    return hamming_verify(
        probe.alias("a").join(
            base.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        ),
        "simhash", max_hamming,
    )


# --------------------------------------------------------------------------
# Stored SimHash signature base (r12): the corpus-scale tokenize → 60-bit
# vote derivation, committed once per corpus
# --------------------------------------------------------------------------
def simhash_base_store(spark, sf_dir: str, force: bool = False) -> str:
    """Build-once stored SimHash signatures for the documents table —
    the shingle-base amortization (shingle_base_store) applied to the
    signature family (the r11 verdict's task #3): before r12, THREE
    consumers (the signature dump, the hamming ≤ 3 pair tier, and the
    multi-probe hamming ≤ 7 tier) each re-ran tokenize → explode →
    60-conditional-sum vote aggregation over every corpus token
    (~3.7 s of the sf0.1 bench PER consumer — and at 100 TB, a full
    corpus-token pass per report). One member table:

    - ``sig`` (id, simhash): BUCKETED BY id — banding/probing explodes
      are linear in n_docs and derive from the 8-byte signature, so id
      is the only join key consumers ever bring back to this table.

    The signature is geometry-free: band_bits/max_hamming are QUERY-time
    parameters applied to the stored 60-bit value, so one snapshot
    serves every banding and every hamming radius (the same
    one-artifact-serves-every-parameter property as the shingle base's
    threshold-generic frequency order).

    Root discipline: ``stores.open_store`` keyed on SIMHASH_BITS (see
    stores.py). The registered build query passes force=True so the
    bench bills the corpus-scale build honestly."""
    from . import stores, tableformat

    def _build(r):
        from ..session import load_table

        docs = load_table(spark, sf_dir, "documents")
        sig = simhash(docs, "doc_id", "text")
        tableformat.commit_atomic(r, {"sig": ("bucketed", sig, "id", 8)})

    return stores.open_store(
        spark, "simsig", sf_dir, "documents", (SIMHASH_BITS,), _build,
        force=force,
    )


def simhash_base_probe(spark, sf_dir: str) -> DataFrame:
    """The committed SimHash snapshot (build-if-absent, then stored
    reads only): (id, simhash), bucketed by id."""
    from . import tableformat

    root = simhash_base_store(spark, sf_dir)
    return tableformat.read_atomic(spark, root, "sig")


# --------------------------------------------------------------------------
# Benchmark decontamination: n-gram overlap vs a held-out corpus
# --------------------------------------------------------------------------
def contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Training-set decontamination: flag documents sharing any word
    ``k``-gram with a benchmark/eval corpus (the n-gram overlap check every
    LLM data pipeline runs before training; production uses k ≈ 8–13, the
    short synthetic fixtures use k=3).

    Scale shape: both sides shingle narrowly, then join on the 60-bit
    n-gram HASH — the shuffle moves 8-byte keys, never gram text. The
    benchmark side (distinct hashed grams of the eval sets — small by
    construction) broadcasts, so the corpus side never shuffles at all:
    flagging 100 TB is a map-side semi-join + one count aggregation.

    Returns (id, n_hits) for contaminated documents only — n_hits =
    distinct overlapping grams; anti-join the ids against the corpus to
    drop them.
    """
    d_grams = (
        docs.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks"))
        .select(
            "id",
            F.explode(F.array_distinct(word_shingles(F.col("toks"), k))).alias(
                "gram"
            ),
        )
        .select("id", md5_hash60(F.col("gram")).alias("gram_h"))
    )
    b_grams = (
        benchmark.select(tokens(F.col(text_col)).alias("toks"))
        .select(F.explode(word_shingles(F.col("toks"), k)).alias("gram"))
        .select(md5_hash60(F.col("gram")).alias("gram_h"))
        .distinct()
    )
    return (
        d_grams.join(F.broadcast(b_grams), "gram_h")
        .groupBy("id")
        .agg(F.countDistinct("gram_h").alias("n_hits"))
    )


# --------------------------------------------------------------------------
# Cluster resolution: near-dup pairs → connected components
# --------------------------------------------------------------------------
def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b", max_iter: int = 50
) -> DataFrame:
    """Connected components over a pair list by iterative min-label
    propagation: every node repeatedly adopts ``min(own label, neighbor
    labels)`` until fixpoint. Converges in O(graph diameter) rounds — for
    near-dup clusters (dense cliques plus short chains) that is a handful.

    This turns pairwise near-dup output (jaccard_pairs / minhash_near_dup /
    simhash_hamming_pairs / embedding_near_dup) into dedup CLUSTERS: keep
    ``id == component`` as the canonical document, drop the rest.

    Scale shape: each round is one shuffle join on node id + one grouped min
    — the standard distributed CC loop. ``localCheckpoint`` truncates the
    lineage each round (an iterative plan would otherwise grow exponentially)
    and the converged-check count is the per-round action that also
    materializes it. At 100 TB, swap in the large-star/small-star variant
    only if diameters get pathological; near-dup graphs don't.

    Returns (id, component) — component = min node id reachable.
    """
    # Materialize the (possibly expensive) upstream pair pipeline ONCE,
    # then mirror the cheap checkpointed edge list — a union of two selects
    # over `edges` would evaluate the whole upstream plan twice. (r14: the
    # mirrored union is NOT checkpointed again — it is a zero-shuffle map
    # over the already-materialized edge blocks, so a second eager cut only
    # added a redundant materialization job per call.)
    e = cut(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = (
        sym.select(F.col("a").alias("id")).distinct().withColumn("comp", F.col("id"))
    )
    for _ in range(max_iter):
        # r14 (guide §2.3/§2.4): one join + union + ONE grouped min per
        # round, replacing join + grouped min + second join. Every node
        # appears as `a` in the symmetric edge list, and its own label
        # rides the union tagged own=1, so min(comp) over the union is
        # exactly least(own, min neighbor) and max(own-tagged comp)
        # recovers old_comp for the convergence count — same fixpoint,
        # same labels, one exchange fewer per round.
        # r14: the checkpoint is LAZY — the convergence count right below
        # is the action that materializes it, so each round runs ONE
        # driver-visible job instead of materialize-then-count (two).
        stepped = cut(
            sym.join(labels.withColumnRenamed("id", "b"), "b")
            .select(F.col("a").alias("id"), "comp", F.lit(False).alias("own"))
            .unionByName(labels.withColumn("own", F.lit(True)))
            .groupBy("id")
            .agg(
                F.min("comp").alias("comp"),
                F.max(F.when(F.col("own"), F.col("comp"))).alias("old_comp"),
            ),
            eager=False,
        )
        changed = stepped.filter(F.col("comp") != F.col("old_comp")).count()
        labels = stepped.select("id", "comp")
        if changed == 0:
            break
    return labels


# --------------------------------------------------------------------------
# Embedding (semantic) near-dup
# --------------------------------------------------------------------------
def embedding_near_dup(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.9
) -> DataFrame:
    """Cosine-threshold pairs over dense embeddings (brute-force all pairs).

    Exact but O(n²) — correct at oracle scale; at 100 TB use the LSH-bucketed
    candidate generation in similarity.hyperplane_lsh_pairs and verify with
    this expression on the candidates only.
    """
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    a, b = base.alias("a"), base.alias("b")
    sim = cosine_similarity(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(sim, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def connected_components_twostar(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b", max_iter: int = 50
) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the at-scale tier ``connected_components``'s docstring
    defers to: min-label propagation needs O(diameter) rounds, two-star
    contracts paths aggressively and converges in O(log² n) even on long
    chains (pathological diameters: linked paragraph chains, web-graph
    tendrils).

    Each round is two passes, both one per-key window + filter (no joins
    inside the loop, unlike the propagation variant's join-per-round):

    - large-star: every node's LARGER neighbors re-point to the minimum
      of its closed neighborhood,
    - small-star: with edges oriented large→small, the smaller neighbors
      (and the node) re-point to the closed-neighborhood minimum.

    Both passes only ever connect nodes already connected (correctness)
    and strictly shrink the potential Σ-of-edge-spans (convergence).
    Fixpoint = the edge multiset stops changing; the surviving edges form
    stars (node → component root). Returns (id, comp) with roots
    included, exactly ``connected_components``'s contract (pytest pins
    equality on random graphs and a 200-node chain).
    """
    e = cut(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
    )
    # r14 (guide §1.2): `nodes` is consumed exactly once, by the final
    # star join after the loop — checkpointing it eagerly here was a pure
    # extra materialization job per call. It stays a lazy derivation of
    # the checkpointed INITIAL edge set (the loop rebinds `e`, not the
    # plan this closure captured).
    nodes = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
    )
    from pyspark.sql import Window as W

    converged = False
    # r14: the old fixpoint check re-counted the (checkpointed) PREVIOUS
    # edge set every round — `n_e` carries the count across rounds instead
    # (round N's ss.count() IS round N+1's e.count()), and the ss
    # checkpoint is lazy so its count doubles as the materializing action:
    # 3 driver jobs per round become 1 (+1 subtract job only on the
    # candidate-fixpoint round).
    n_e = e.count()
    for _ in range(max_iter):
        # large-star over the symmetric adjacency: larger neighbors of
        # each node re-point to min(closed neighborhood)
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        wa = W.partitionBy("u")
        ls = (
            sym.withColumn("m", F.least(F.col("u"), F.min("v").over(wa)))
            .filter(F.col("v") > F.col("u"))
            .select(
                F.greatest("v", "m").alias("u"), F.least("v", "m").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star on large→small orientation: the node and its smaller
        # neighbors re-point to the minimum
        wu = W.partitionBy("u")
        base = ls.withColumn("m", F.least(F.col("u"), F.min("v").over(wu)))
        ss = cut(
            base.select(F.col("v").alias("n"), F.col("m"))
            .union(base.select(F.col("u").alias("n"), F.col("m")))
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct(),
            eager=False,
        )
        # fixpoint: the (u, v) multiset is unchanged (both sides distinct)
        n_ss = ss.count()
        if n_ss == n_e and ss.subtract(e).count() == 0:
            e = ss
            converged = True
            break
        e = ss
        n_e = n_ss
    if not converged:
        # A non-converged edge set may still contain nodes with multiple
        # outgoing edges; the final left join would then fan out and emit
        # duplicate (id, comp) rows with inconsistent labels — a SILENT
        # correctness failure. Refuse instead: O(log² n) rounds suffice in
        # theory but adversarial graphs can exceed a fixed max_iter.
        raise RuntimeError(
            f"connected_components_twostar: no fixpoint after {max_iter} "
            "rounds; raise max_iter (each round strictly shrinks the edge-"
            "span potential, so a larger budget always converges)"
        )
    return nodes.join(
        e.select(F.col("u").alias("id"), F.col("v").alias("_c")), "id", "left"
    ).select(
        "id", F.coalesce(F.col("_c"), F.col("id")).alias("comp")
    )
