"""Driver-contract registry for the §2.5 extension operators.

Each entry: name → (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql).
The oracle SQL is the exact ANSI twin of the Spark expression (DuckDB
dialect). EVERY entry is value-checked — including the approximate
operators, whose algorithms are deterministic and therefore replayable:
the oracles re-execute hyperplane-LSH (plane literals), IVF-Flat (centroid
seeds + probe selection), pigeonhole-banded SimHash, and MinHash banding
(portable md5-60bit hash family) end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text_functions import BPE_ISH_PATTERN, md5_hash60
from ..session import cut, load_table
from . import cdc, dedup, sampling, similarity, skew, temporal, text

# SQL fragments kept in lockstep with functions/text_functions.py
_SQL_TOKENS = "list_filter(string_split_regex(lower({c}), '\\s+'), x -> x <> '')"
_SQL_HASH60 = "(('0x' || substr(md5({c}), 1, 15))::BIGINT)"


# Vector-search oracle fragments (DuckDB): seeds, k-means rounds, IVF lists.
def _sql_seed_cents(limit) -> str:
    """The ``limit`` lowest-vec_id embeddings as centroids ``(cid, cv)``."""
    return f"""SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id
        LIMIT {limit})"""


def _sql_nearest_cid(src: str, cols: str = "vec_id, cid") -> str:
    """Each embedding's highest-dot centroid of ``src`` (cid tie-break)."""
    return f"""SELECT {cols} FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_inner_product(e.embedding::DOUBLE[],
                                         c.cv::DOUBLE[]) DESC, c.cid ASC) AS rk
    FROM embeddings e, {src} c
  ) WHERE rk = 1"""


def _sql_lloyd_ctes(k: int, n_iter: int) -> str:
    """``cents0`` (the k lowest-id seeds), then per Lloyd round r the
    assignment ``a{r}``, the per-dim means ``c{r}`` rounded 6 dp, and
    their vectors ``c{r}l``."""
    ctes = [f"cents0 AS (\n  {_sql_seed_cents(k)}\n)"]
    for r in range(1, n_iter + 1):
        prev = f"c{r - 1}l" if r > 1 else "cents0"
        ctes += [
            f"a{r} AS (\n  {_sql_nearest_cid(prev)}\n)",
            f"""c{r} AS (
  SELECT cid, i - 1 AS dim, round(avg(e.embedding[i]::DOUBLE), 6) AS c
  FROM a{r} JOIN embeddings e USING (vec_id), generate_series(1, 64) s(i)
  GROUP BY cid, i
)""",
            f"c{r}l AS (\n  SELECT cid, list(c ORDER BY dim) AS cv FROM c{r} GROUP BY cid\n)",
        ]
    return ", ".join(ctes)


def _sql_ivf_rank(cols: str, sel: str, src: str, v: str = "e",
                  where: str = "", keep: str = "rk = 1") -> str:
    """Rows of ``embeddings {v}`` ranked over the centroids of ``src`` by
    dot product (cid tie-break), kept where ``keep``."""
    return f"""SELECT {cols} FROM (
    SELECT {sel}, c.cid,
           row_number() OVER (
             PARTITION BY {v}.vec_id
             ORDER BY list_inner_product({v}.embedding::DOUBLE[],
                                         c.cv::DOUBLE[]) DESC, c.cid ASC
           ) AS rk
    FROM embeddings {v}, {src} c{where}
  ) WHERE {keep}"""


def _sql_ivf_corpus_assign(src: str) -> str:
    """``corpus_assign``: every embedding on its best list of ``src``."""
    return f"""corpus_assign AS (
  {_sql_ivf_rank("neighbor_id, cv2, cid", "e.vec_id AS neighbor_id, e.embedding AS cv2", src)}
)"""


# Each query's 10 highest-cosine neighbors of ``scored``, ranked.
_SQL_COSINE_TOP10 = """), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 10"""


def _sql_ivf_probe_topk(src: str) -> str:
    """IVF search for queries vec_id < 5 over ``corpus_assign``: probe the
    2 best lists of ``src``, score cosine there, keep the top 10."""
    probe = _sql_ivf_rank("query_id, qv, cid", "q.vec_id AS query_id, q.embedding AS qv",
                          src, "q", "\n    WHERE q.vec_id < 5", "rk <= 2")
    return f"""query_probe AS (
  {probe}
), scored AS (
  SELECT DISTINCT p.query_id, a.neighbor_id,
         round(list_cosine_similarity(p.qv::DOUBLE[], a.cv2::DOUBLE[]), 6)
           AS cosine
  FROM query_probe p
  JOIN corpus_assign a ON a.cid = p.cid
  WHERE a.neighbor_id <> p.query_id
{_SQL_COSINE_TOP10}"""


def _sql_ivf_lists(n_lists: int) -> str:
    """IVF coarse lists: ``cents`` (the n_lists lowest-id seeds) and
    ``asg``, every embedding's ``list_id``."""
    return f"""cents AS (
  {_sql_seed_cents(n_lists)}
), asg AS (
  {_sql_nearest_cid("cents", "vec_id, cid AS list_id")}
)"""


def _sql_adc_topk(topk: int) -> str:
    """The ``topk`` smallest ADC sums per query of ``sc`` (vec_id tie-break)."""
    return f"""SELECT qid, vec_id, adc_micro, rk FROM (
  SELECT qid, vec_id, adc_micro,
         row_number() OVER (PARTITION BY qid
                            ORDER BY adc_micro ASC, vec_id ASC)::INT AS rk
  FROM sc
) WHERE rk <= {topk} ORDER BY qid, rk"""


def _sql_pq_dist(d_sub: int, vec: str) -> str:
    """Squared L2 between a subvector of ``vec`` and the codeword list
    ``b.cv`` (b = alias of a b{i}l books table)."""
    return (
        f"list_sum(list_transform(generate_series(1, {d_sub}), j -> "
        f"({vec}[b.m * {d_sub} + j]::DOUBLE - b.cv[j])"
        f" * ({vec}[b.m * {d_sub} + j]::DOUBLE - b.cv[j])))"
    )


def _sql_pq_training_ctes(m: int, k: int, d_sub: int, table: str = "embeddings",
                          vec: str = "embedding") -> str:
    """The PQ-training WITH-body over ``table``'s ``vec`` lists: seeds ->
    b0/b0l -> two Lloyd rounds (assign, re-mean, empty-cluster coalesce)
    -> b2l, then the encoding ``enc``."""
    def nearest(books: str) -> str:  # each subvector's closest codeword
        return f"""SELECT vec_id, m, code FROM (
    SELECT d.vec_id, d.m, d.code,
           row_number() OVER (PARTITION BY d.vec_id, d.m
                              ORDER BY d.dist ASC, d.code ASC) AS rk
    FROM (SELECT e.vec_id, b.m, b.code, {_sql_pq_dist(d_sub, 'e.' + vec)} AS dist
          FROM {table} e, {books} b) d
  ) WHERE rk = 1"""

    # each round coalesces empty clusters against the PREVIOUS round's table
    rounds = []
    for i in (1, 2):
        prev = f"b{i-1}"
        rounds.append(f"""a{i} AS (
  {nearest(prev + 'l')}
), n{i} AS (
  SELECT a.m, a.code, t.j - 1 AS dim,
         round(avg(e.{vec}[a.m * {d_sub} + t.j]::DOUBLE), 6) AS c
  FROM a{i} a JOIN {table} e USING (vec_id),
       generate_series(1, {d_sub}) t(j)
  GROUP BY 1, 2, 3
), b{i} AS (
  SELECT p.m, p.code, p.dim, coalesce(n{i}.c, p.c) AS c
  FROM {prev} p LEFT JOIN n{i}
    ON n{i}.m = p.m AND n{i}.code = p.code AND n{i}.dim = p.dim
), b{i}l AS (
  SELECT m, code, list(c ORDER BY dim) AS cv FROM b{i} GROUP BY m, code
)""")
    rounds_sql = ",\n".join(rounds)
    return f"""seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, {vec}
  FROM (SELECT vec_id, {vec} FROM {table} ORDER BY vec_id LIMIT {k})
), b0 AS (
  SELECT s.m, seeds.code, t.j - 1 AS dim,
         seeds.{vec}[s.m * {d_sub} + t.j]::DOUBLE AS c
  FROM seeds, (SELECT range::INT AS m FROM range(0, {m})) s,
       generate_series(1, {d_sub}) t(j)
), b0l AS (
  SELECT m, code, list(c ORDER BY dim) AS cv FROM b0 GROUP BY m, code
),
{rounds_sql},
enc AS (
  {nearest('b2l')}
)"""


def _sql_winnow_fp(cols: str = "doc_id") -> str:
    """``hs`` (each document's md5 5-gram hashes) and ``fp`` (its distinct
    window-4 minima, ``winnow_hash``), both carrying ``cols``."""
    return f"""hs AS (
  SELECT {cols},
         list_transform(
           range(1, len(text) - 5 + 2),
           i -> substr(md5(substr(text, i, 5)), 1, 15)
         ) AS hs
  FROM documents
  WHERE len(text) >= 5 + 4 - 1
), fp AS (
  SELECT {cols},
         unnest(list_distinct(list_transform(
             range(1, len(hs) - 4 + 2),
             i -> list_min(hs[i:i+3])
         ))) AS winnow_hash
  FROM hs
)"""


# SemDeDup's dynamic-k lists: max(8, n/64) lowest-id seeds, best-dot assign.
_SQL_SEMDEDUP_LISTS = f"""cents AS (
  {_sql_seed_cents("(SELECT greatest(8, count(*) // 64) FROM embeddings)")}
), assign AS (
  {_sql_ivf_rank("vec_id, embedding, cid", "e.vec_id, e.embedding", "cents")}
)"""


# --------------------------------------------------------------------------
# Dedup
# --------------------------------------------------------------------------
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup representatives: min-id per distinct content + copy counts (dedup.exact_dedup_representatives)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup_representatives(docs, "text", "doc_id").orderBy("doc_id")


DEDUP_EXACT_DOCS_SQL = """
SELECT md5(text)   AS fingerprint,
       min(doc_id) AS doc_id,
       count(*)    AS n_copies
FROM documents
GROUP BY md5(text)
"""


def dedup_jaccard_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact 3-shingle Jaccard near-dup pairs (threshold 0.3),
    probing the committed shingle-base snapshot (r11: the stored-artifact
    amortization — shingle_base_build_docs pays the corpus-scale
    tokenize/df/reorder once; this consumer reads the bucketed prefix
    stream and set table). Output identical to the in-line
    dedup.jaccard_pairs (equivalence pytest-pinned)."""
    return dedup.jaccard_pairs_stored(spark, sf_dir, threshold=0.3).orderBy(
        "id_a", "id_b"
    )


def _sql_jaccard(a: str = "a", b: str = "b") -> str:
    """Exact Jaccard (4 dp) of the ``shingles`` sets of aliases ``a``, ``b``."""
    return (
        f"round(len(list_intersect({a}.shingles, {b}.shingles))::DOUBLE"
        f" / len(list_distinct(list_concat({a}.shingles, {b}.shingles))), 4)"
    )


# Each document's 3-shingle list with its (lang, n_chars // 200) block keys,
# and the same-block pairs of the non-empty ones.
_SQL_SHINGLE_BLOCKS = f"""base AS (
  SELECT doc_id, lang, n_chars // 200 AS bucket,
         list_transform(
           generate_series(1, greatest(len(toks) - 2, 0)),
           i -> array_to_string(list_slice(toks, i, i + 2), ' ')
         ) AS shingles
  FROM (SELECT doc_id, lang, n_chars, {_SQL_TOKENS.format(c='text')} AS toks
        FROM documents)
), nonempty AS (
  SELECT * FROM base WHERE len(shingles) > 0
)"""
_SQL_BLOCKED_PAIRS = """FROM nonempty a
JOIN nonempty b
  ON a.lang IS NOT DISTINCT FROM b.lang AND a.bucket IS NOT DISTINCT FROM b.bucket AND a.doc_id < b.doc_id"""

DEDUP_JACCARD_PAIRS_DOCS_SQL = f"""
WITH {_SQL_SHINGLE_BLOCKS}
SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_sql_jaccard()} AS jaccard
{_SQL_BLOCKED_PAIRS}
WHERE {_sql_jaccard()} >= 0.3
"""


_MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def _minhash_ab(i: int) -> tuple[int, int]:
    """Deterministic universal-hash coefficients for table i."""
    a = (1103515245 * i + 12345) % _MINHASH_P or 1
    b = (7919 * i + 17) % _MINHASH_P
    return a, b


def _minhash_prehash(s):
    # ONE md5 per shingle, shared by all tables via minhash_near_dup's
    # prehash_fn hook (each table re-hashing would cost 8 md5 passes —
    # Spark doesn't CSE across separate transform() lambda bodies).
    return md5_hash60(s) % _MINHASH_P


def _minhash_portable(h, i):
    """Table ``i`` of the portable universal family over the prehash."""
    a, b = _minhash_ab(i)
    return h * F.lit(a) % _MINHASH_P + F.lit(b)


# Exact Jaccard of the candidate pair's shingle sets (DuckDB oracle side).
_SQL_MINHASH_JACCARD = _sql_jaccard("sa", "sb")
# Candidate pairings of the banded join: (left name, right name, predicate).
_MINHASH_PAIRS = ("id_a", "id_b", "a.id < b.id")
_MINHASH_CROSS = ("corpus_id", "batch_id", "a.id % 2 = 0 AND b.id % 2 = 1")


def _minhash_verify_sql(pairing: tuple, bound: str, cols: str = "") -> str:
    """Candidates whose exact Jaccard reaches ``bound``, projected to
    ``cols`` (default: both ids and the Jaccard as ``est_jaccard``)."""
    a, b, _on = pairing
    cols = cols or f"{a}, {b}, {_SQL_MINHASH_JACCARD} AS est_jaccard"
    return f"""
SELECT {cols}
  FROM cand
  JOIN base sa ON sa.id = cand.{a}
  JOIN base sb ON sb.id = cand.{b}
  WHERE {_SQL_MINHASH_JACCARD} >= {bound}"""


def _minhash_oracle_sql(pairing: tuple, tail: str, *, blocked: bool = False,
                        truth: str = "", num_hash_tables: int = 8,
                        band_r: int = 2) -> str:
    """DuckDB replay of the portable MinHash banding: the 3-shingle ``base``
    (with the (lang, bucket) block keys when ``blocked``), an optional CTE
    text ``truth`` spliced after it, the ``sigs``/``bands`` CTEs and the
    distinct ``cand`` pairs of ``pairing``; ``tail`` continues the query."""
    h = _SQL_HASH60.format(c="s")
    mh = ",\n         ".join(
        f"list_min(list_transform(shingles, s -> "
        f"(({h} % {_MINHASH_P}) * {_minhash_ab(i)[0]} % {_MINHASH_P}"
        f" + {_minhash_ab(i)[1]}))) AS mh{i}"
        for i in range(num_hash_tables)
    )
    bands = " UNION ALL ".join(
        "SELECT id, {bi} AS band, {key} AS key FROM sigs".format(
            bi=bi,
            key=" || ',' || ".join(
                f"mh{bi * band_r + j}::VARCHAR" for j in range(band_r)
            ),
        )
        for bi in range(num_hash_tables // band_r)
    )
    keys, cols = ("lang, n_chars // 200 AS bucket,", "lang, n_chars, ") if blocked else ("", "")
    a, b, on = pairing
    return f"""
WITH base AS (
  SELECT doc_id AS id, {keys}
         list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 0)),
           i -> array_to_string(list_slice(toks, i, i + 2), ' ')
         )) AS shingles
  FROM (SELECT doc_id, {cols}{_SQL_TOKENS.format(c='text')} AS toks FROM documents)
  WHERE len(toks) >= 3
){truth}, sigs AS (
  SELECT id, {mh}
  FROM base
), bands AS (
  {bands}
), cand AS (
  SELECT DISTINCT a.id AS {a}, b.id AS {b}
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND {on}
){tail}"""


def dedup_minhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates, gated with a FULL DuckDB replay:
    instead of the default xxhash64 family (which DuckDB lacks), each table
    hash is the universal family ``(a_i·h + b_i) mod (2^31−1)`` over ONE
    portable 60-bit md5 base hash per shingle — one md5 per shingle total,
    so the cost shape matches the xxhash64 production default
    (dedup.minhash_near_dup's hash_fn arg) while the oracle re-executes
    signature → banding → candidate join → exact-Jaccard verify
    bit-for-bit.

    r12: the shingle sets come from the committed shingle-base snapshot
    (dedup.shingle_base_store) via the prebuilt_shingles seam — the
    tokenize→shingle pass is paid once per corpus by
    shingle_base_build_docs, exactly the plumbing minhash_band_recall_docs
    adopted in r11, and with the same equivalence argument: minhash over
    the sorted-distinct sset equals minhash over raw shingles (min of
    hashed values is order-free and idempotent under distinct), and the
    exact-Jaccard verify's intersect/union sizes are set-level. Output
    identical (equivalence pytest-pinned)."""
    base, _fpos = dedup.shingle_base_probe(spark, sf_dir, k=3)
    return dedup.minhash_near_dup(
        None, id_col="doc_id", text_col="text", k=3,
        jaccard_distance_threshold=0.7,
        hash_fn=_minhash_portable,
        band_r=2,
        prehash_fn=_minhash_prehash,
        prebuilt_shingles=base.select("id", F.col("sset").alias("shingles")),
    ).orderBy("id_a", "id_b")


DEDUP_MINHASH_DOCS_SQL = _minhash_oracle_sql(
    _MINHASH_PAIRS, _minhash_verify_sql(_MINHASH_PAIRS, "(1.0 - 0.7)")
)


def dedup_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental minhash dedup (dedup.minhash_incremental_pairs): the
    corpus is the even doc_ids, tonight's batch the odd ones; only
    batch-vs-corpus pairs are generated — corpus×corpus is never
    re-paired (the nightly-ingest join shape). Same portable md5 hash
    family as dedup_minhash_docs so the oracle replays signature →
    banding → cross-side candidate join → exact-Jaccard verify.

    r14: both sides probe the COMMITTED shingle-base snapshot instead of
    re-tokenizing documents — minhash over the stored sorted-distinct
    sset equals minhash over the inline shingle derivation (array_min is
    order-free over the identical set), and the exact-Jaccard verify is
    set-arithmetic over the same sets, so every emitted value is
    unchanged (same oracle)."""
    base, _fpos = dedup.shingle_base_probe(spark, sf_dir, k=3)
    stored = base.select("id", F.col("sset").alias("shingles"))
    return dedup.minhash_incremental_pairs(
        None,
        None,
        id_col="doc_id", text_col="text", k=3,
        jaccard_distance_threshold=0.7,
        hash_fn=_minhash_portable,
        band_r=2,
        prehash_fn=_minhash_prehash,
        prebuilt_shingles_corpus=stored.filter(F.col("id") % 2 == 0),
        prebuilt_shingles_batch=stored.filter(F.col("id") % 2 == 1),
    ).orderBy("corpus_id", "batch_id")


DEDUP_INCREMENTAL_DOCS_SQL = _minhash_oracle_sql(
    _MINHASH_CROSS, _minhash_verify_sql(_MINHASH_CROSS, "(1.0 - 0.7)")
)


def dedup_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash signatures per document (dedup tier 4; md5-derived
    token hashes, bitwise majority). r12: reads the committed signature
    snapshot (dedup.simhash_base_store — the corpus-token-scale vote
    aggregation is paid once per corpus by simhash_base_build_docs);
    values identical to the in-line dedup.simhash (pytest-pinned)."""
    return dedup.simhash_base_probe(spark, sf_dir).withColumnRenamed(
        "id", "doc_id"
    )


def _simhash_oracle() -> str:
    votes = ",\n       ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(dedup.SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {2**i}::BIGINT ELSE 0 END)"
        for i in range(dedup.SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {_SQL_HASH60.format(c='t.tok')} AS h
  FROM documents, unnest({_SQL_TOKENS.format(c='text')}) AS t(tok)
), votes AS (
  SELECT doc_id,
       {votes}
  FROM toks GROUP BY doc_id
)
SELECT doc_id, {sig} AS simhash FROM votes
"""


DEDUP_SIMHASH_DOCS_SQL = _simhash_oracle()


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS (hamming ≤ 3) via pigeonhole banding: 60 bits
    in 4 × 15-bit bands — any pair within hamming 3 MUST agree on ≥1 band,
    so the banded candidate join + exact popcount verify is EXACTLY the
    brute-force result (the oracle replays it all-pairs; recall here is a
    theorem, not a probability).

    r12: signatures come from the committed snapshot (simhash_base_store)
    — the persisted-columns design the old localCheckpoint comment
    described, made literal: both self-join sides scan the bucketed
    parquet instead of re-running (×2) the 60-way vote aggregation."""
    sig = dedup.simhash_base_probe(spark, sf_dir)
    return dedup.simhash_hamming_pairs(sig, max_hamming=3, band_bits=15).orderBy(
        "id_a", "id_b"
    )


DEDUP_SIMHASH_PAIRS_SQL = f"""
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM ({DEDUP_SIMHASH_DOCS_SQL}) a
JOIN ({DEDUP_SIMHASH_DOCS_SQL}) b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


#: Deterministic 64-dim perturbation direction for the planted-twin
#: fixture of dedup_embedding_pairs (seed 777 keeps it independent of the
#: seed-42 LSH planes). Embedded as a literal in BOTH engines.
_TWIN_DIR = similarity._deterministic_hyperplanes(64, 1, seed=777)[0]
_TWIN_RATE = 50  # one planted twin per 50 vectors (2% of the corpus)
_TWIN_ID_OFFSET = 1_000_000_000
_TWIN_EPS = 0.05


def _planted_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table plus DETERMINISTIC near-duplicate twins: every
    vec_id % 50 == 0 vector gets a copy perturbed by eps·‖v‖·d (d a fixed
    splitmix64-derived direction, eps = 0.05), landing at cosine ≈ 0.974
    against its source — the "same document re-embedded / near-exact
    semantic copy" population real corpus dedup targets. The synthetic
    fixture is near-orthogonal (max pair cosine 0.513 at sf0.01), so
    WITHOUT planting, any threshold in the realistic ≥ 0.9 regime returns
    zero rows and the correctness check is vacuous. The plant is pure
    engine-replayable arithmetic (+ × and one IEEE-exact sqrt), so the
    DuckDB oracle reproduces the twins bit-for-bit."""
    from ..functions.vector_functions import l2_norm

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dlit = similarity._sql_double_array(_TWIN_DIR)
    twins = (
        emb.filter(F.col("vec_id") % _TWIN_RATE == 0)
        .withColumn("nrm", l2_norm(F.col("embedding")))
        .select(
            (F.col("vec_id") + F.lit(_TWIN_ID_OFFSET)).alias("vec_id"),
            F.expr(
                f"zip_with(embedding, {dlit}, "
                f"(x, y) -> CAST(x AS DOUBLE) + {_TWIN_EPS!r}D * nrm * y)"
            ).alias("embedding"),
        )
    )
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return base.unionByName(twins)


def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs at the REALISTIC threshold (cosine ≥ 0.9)
    via the sub-linear wide-band plan: 60-bit hyperplane signatures in
    6 × 10-bit bands, band equi-join candidates, exact cosine verify —
    never an all-pairs nested-loop join.

    Regime (r9, re-registered per the r8 verdict): production near-dup
    dedup hunts near-exact semantic copies (c ≥ 0.9), where WIDE bands
    keep the candidate stream sub-linear — a random near-orthogonal pair
    collides in a 10-bit band with p = 2^-10, so candidates ≈
    6·n²/1024 · (pair-level dedup) stays ~0.6% of the quadratic even
    before the first-agree filter, while a planted twin at cosine 0.974
    (bit-agreement p ≈ 0.927) survives with per-pair recall ≈ 0.978.
    The OLD threshold-0.4 geometry (16 × 3-bit bands — random pairs
    collide somewhere with probability ≈ 0.88, so the candidate stream is
    effectively the quadratic itself, 4×-tier growth 5.5) remains
    registered as dedup_embedding_pairs_stress: value-checked at 3 SFs,
    bench-EXCLUDED as a stress anchor, documented in SCALING.md.

    Planted twins (see _planted_embeddings) make the high-threshold
    regime non-vacuous on the near-orthogonal fixture: expected output is
    one (source, twin) pair per plant that shares ≥ 1 of 6 band keys; the
    oracle replays plant + signature + banding + verify, so the check is
    value-level, not rows-only. Band widening at corpus growth is the
    documented scale rule: band_bits ≈ log2(n) + c keeps per-bucket
    occupancy O(1), so the equi-join scales with the TRUE near-dup mass,
    not n².

    r12: probes the committed embedding-signature snapshot
    (embedding_signature_store) — plant + signature + norm are paid once
    per corpus by embsig_base_build_embeddings; output identical to the
    in-line hyperplane_lsh_pairs path (equivalence pytest-pinned)."""
    base, _ = embedding_signature_probe(spark, sf_dir)
    return similarity.lsh_pairs_from_base(
        base, bits=60, band_bits=10, threshold=0.9
    ).orderBy("id_a", "id_b")


def dedup_embedding_pairs_stress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRESS anchor (bench-excluded, SCALING-documented): the r1–r8
    threshold-0.4 geometry — 48 bits in 16 × 3-bit bands over the raw
    near-orthogonal fixture, where 0.4 sits in the extreme tail. Narrow
    bands at a low threshold make nearly every pair collide somewhere
    (measured 4×-tier growth 5.5 — the candidate stream IS the
    quadratic), which is exactly why this is NOT the registered-and-
    benched production regime (dedup_embedding_pairs above); it stays
    value-checked at 3 SFs as the recall stress bound beside
    dedup_embedding_recall (which measures banding recall 1.0/0.991
    against brute force at this same geometry)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.hyperplane_lsh_pairs(
        emb, id_col="vec_id", vec_col="embedding",
        bits=48, band_bits=3, threshold=0.4,
    ).orderBy("id_a", "id_b")


# Oracles assigned below (after _knn_lsh_pairs_oracle): the SAME plant +
# banding algorithm replayed in SQL. A brute-force oracle would demand
# recall exactly 1.0 — the measured recall is surfaced explicitly by
# dedup_embedding_recall instead.


# --------------------------------------------------------------------------
# Stored embedding-signature base (r12): plant + 60-bit hyperplane
# signature + norms + SemDeDup assignment, committed once per corpus
# --------------------------------------------------------------------------
def embedding_signature_store(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Build-once stored signature base for the embeddings table — the
    r11 verdict's task #3 (the shingle-base amortization applied to the
    embedding-signature family). Before r12, every LSH consumer re-ran
    the twin plant + hyperplane signature + norm over the corpus — and
    because the candidate join is a SELF-join, the signature subtree was
    evaluated TWICE per query (measured: 2.5 s of knn_lsh_pairs' 6.0 s
    at sf0.1) — and semantic_dedup re-ran its centroid assignment per
    report. Two member tables, one atomic transaction:

    - ``base`` (id, v, sig, nrm): the PLANTED vector set (raw ids plus
      the deterministic twins ≥ _TWIN_ID_OFFSET — raw-set consumers
      filter ``id < offset``), v cast to array<double>, the 60-bit
      seed-42 hyperplane signature, and the L2 norm. BUCKETED BY id —
      the exact-cosine verify joins candidates back by id, so the
      stored vector sides re-shuffle nothing. One WIDE signature serves
      EVERY registered geometry: the splitmix64 plane stream is
      per-bit (plane i never depends on the total bit count,
      similarity._deterministic_hyperplanes), and the band/first-agree
      logic reads only bits < ``bits`` (similarity.lsh_pairs_from_base),
      so the 16-bit production geometry and the 60-bit planted-twin
      geometry slice the same stored long.
    - ``assign`` (list_id, vec_id, embedding): SemDeDup nearest-centroid
      assignment of the RAW set at the paper's own k = max(8, n/64)
      cost rule. BUCKETED BY list_id — the within-cluster pair join is
      the only consumer shape, so both self-join sides read
      pre-partitioned.

    Root discipline: ``stores.open_store`` keyed on (bits, seed) (see
    stores.py). The registered build query passes force=True so the
    bench bills the corpus-scale build honestly."""
    from . import stores, tableformat

    def _build(r):
        planes = similarity._deterministic_hyperplanes(64, 60, seed=42)
        base = _planted_embeddings(spark, sf_dir).mapInPandas(
            _embsig_base_batches(planes),
            schema="id long, v array<double>, sig long, nrm double",
        )
        emb = load_table(spark, sf_dir, "embeddings")
        n = emb.count()
        cents = similarity.ivf_centroids_from_sample(
            emb, n_lists=max(8, n // 64)
        )
        assigned = emb.select("vec_id", "embedding").mapInPandas(
            _embsig_assign_batches(cents),
            schema="list_id int, vec_id long, embedding array<float>",
        )
        tableformat.commit_atomic(
            r,
            {
                "base": ("bucketed", base, "id", 8),
                "assign": ("bucketed", assigned, "list_id", 8),
            },
        )

    return stores.open_store(
        spark, "embsig", sf_dir, "embeddings", (60, 42), _build, force=force
    )


def _embsig_base_batches(planes):
    """Arrow batch worker for the embsig BUILD: per vector, the b-bit
    hyperplane signature and the L2 norm, via elementwise float64
    products + ``np.cumsum`` — ufunc accumulation is SEQUENTIAL, so each
    sum is bit-identical to the SQL left fold from 0.0D that
    similarity.hyperplane_signature / l2_norm evaluate (equality
    pytest-pinned on the real corpus). The interpreted higher-order fold
    costs ~6 µs per (row, plane) element pass (2.6 s for 2 000×60 at
    sf0.1); the vectorized form is ~20× cheaper and runs once per corpus
    inside the build, never in a consumer. Chunked so the transient
    (rows × bits × dim) product tensor stays ~100 MB.

    NULL vectors (r13, closing SELFREVIEW_r12 #11): the stored row must
    equal the in-line SQL row bit-for-bit, and the MEASURED inline
    semantics for a NULL embedding are sig = 0L — every per-plane
    ``CASE WHEN <null dot> > 0`` takes the ELSE 0L branch, NOT a NULL
    sig as the r12 self-review recollected — nrm = NULL (the fold over
    a NULL array is NULL, sqrt(NULL) = NULL), v = NULL. Null rows are
    split off the vectorized path and emitted with exactly those values
    (pinned on a nullable fixture in test_embsig_nulls_r13.py)."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        P = np.asarray(planes, dtype=np.float64)
        bits = P.shape[0]
        weights = np.int64(1) << np.arange(bits, dtype=np.int64)
        chunk_rows = max(64, 8_000_000 // (bits * P.shape[1]))
        for pdf in batches:
            for lo in range(0, len(pdf), chunk_rows):
                chunk = pdf.iloc[lo: lo + chunk_rows]
                nulls = chunk["embedding"].isna().to_numpy()
                sig = np.zeros(len(chunk), dtype=np.int64)
                # object dtype: None serializes to an Arrow NULL double,
                # never a NaN (the inline fold yields NULL, not NaN)
                nrm = np.full(len(chunk), None, dtype=object)
                if not nulls.all():
                    V = np.stack(
                        [
                            np.asarray(v, dtype=np.float64)
                            for v in chunk["embedding"][~nulls]
                        ]
                    )
                    dots = np.cumsum(V[:, None, :] * P[None, :, :], axis=2)[:, :, -1]
                    sig[~nulls] = (
                        (dots > 0).astype(np.int64) * weights[None, :]
                    ).sum(axis=1)
                    nrm[~nulls] = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
                yield pd.DataFrame(
                    {
                        "id": chunk["vec_id"].to_numpy(),
                        "v": chunk["embedding"],
                        "sig": sig,
                        "nrm": nrm,
                    }
                )

    return fn


def _embsig_assign_batches(cents):
    """Arrow batch worker for the embsig BUILD's ``assign`` member:
    nearest-centroid list per vector — max inner product, lowest-cid
    tie-break — via the same sequential-cumsum dots as
    ``_embsig_base_batches``; ``np.argmax`` returns the FIRST maximum,
    which IS the lowest-cid tie-break of both similarity.ivf_assign
    (array_sort on (-d, idx)) and the large-k max_by branch (equality
    pytest-pinned). Chunked against the (rows × k × dim) tensor — k
    scales with the corpus (SemDeDup's k = n/64 rule), so the chunk
    shrinks as k grows.

    NULL vectors land in list 0 — the MEASURED inline semantics of BOTH
    semantic_assign branches (all dots NULL: ivf_assign's array_sort
    puts the NULL-negd structs first and tie-breaks on idx → 0; the
    max_by branch's all-NULL d tie-breaks on -cid → 0), pinned on a
    nullable fixture in test_embsig_nulls_r13.py."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cents, dtype=np.float64)
        chunk_rows = max(64, 8_000_000 // max(C.shape[0] * C.shape[1], 1))
        for pdf in batches:
            for lo in range(0, len(pdf), chunk_rows):
                chunk = pdf.iloc[lo: lo + chunk_rows]
                nulls = chunk["embedding"].isna().to_numpy()
                lid = np.zeros(len(chunk), dtype=np.int32)
                if not nulls.all():
                    V = np.stack(
                        [
                            np.asarray(v, dtype=np.float64)
                            for v in chunk["embedding"][~nulls]
                        ]
                    )
                    dots = np.cumsum(V[:, None, :] * C[None, :, :], axis=2)[:, :, -1]
                    lid[~nulls] = np.argmax(dots, axis=1).astype(np.int32)
                yield pd.DataFrame(
                    {
                        "list_id": lid,
                        "vec_id": chunk["vec_id"].to_numpy(),
                        "embedding": chunk["embedding"],
                    }
                )

    return fn


def embedding_signature_probe(spark: SparkSession, sf_dir: str):
    """The committed embedding-signature snapshot (build-if-absent, then
    stored reads only): returns (base, assign) — see
    embedding_signature_store."""
    from . import tableformat

    root = embedding_signature_store(spark, sf_dir)
    return (
        tableformat.read_atomic(spark, root, "base"),
        tableformat.read_atomic(spark, root, "assign"),
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for query vectors vec_id < 5."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.cosine_topk(emb, queries, k=10).orderBy("query_id", "rank")


KNN_COSINE_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.qv::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine
  FROM q JOIN embeddings c ON c.vec_id <> q.query_id
{_SQL_COSINE_TOP10}
"""


def knn_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH candidate pairs re-ranked by exact cosine. The planes
    are deterministic (splitmix64 from seed 42), so the DuckDB oracle
    replays the ENTIRE algorithm — signature, banding, candidate join,
    verify — with the same plane values embedded as literals: the
    approximate operator is value-checked, not rows-only.

    r12: probes the committed embedding-signature snapshot, slicing the
    low 16 bits of the stored 60-bit signature (the plane stream is
    per-bit, so plane i is geometry-independent) and filtering to the
    raw ids (< _TWIN_ID_OFFSET — the store carries the planted set).
    Output identical to the in-line path (equivalence pytest-pinned)."""
    base, _ = embedding_signature_probe(spark, sf_dir)
    raw = base.filter(F.col("id") < _TWIN_ID_OFFSET)
    return similarity.lsh_pairs_from_base(
        raw, bits=16, band_bits=4, threshold=0.35
    ).orderBy("id_a", "id_b")


def _sig_terms_sql(bits: int, dim: int = 64) -> str:
    """The b-bit seed-42 hyperplane signature as one DuckDB SQL
    expression over an ``embedding`` column — plane values embedded as
    literals (shared by the LSH-pair oracles and the embsig build
    certification)."""
    planes = similarity._deterministic_hyperplanes(dim, bits, seed=42)
    return " + ".join(
        f"(CASE WHEN list_inner_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(x) for x in plane)}]::DOUBLE[]) > 0 "
        f"THEN {2**i}::BIGINT ELSE 0 END)"
        for i, plane in enumerate(planes)
    )


def _knn_lsh_pairs_oracle(
    bits: int = 16,
    band_bits: int = 4,
    dim: int = 64,
    threshold: float = 0.35,
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
) -> str:
    """Replays hyperplane_lsh_pairs end-to-end in DuckDB SQL: signature,
    banding, candidate join, exact-cosine verify — plane values embedded
    as literals. ``source_sql`` must yield (vec_id, embedding); the
    planted-twin variant (dedup_embedding_pairs) passes its plant CTE."""
    sig_terms = _sig_terms_sql(bits, dim)
    thr = repr(float(threshold))
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    band_rows = " UNION ALL ".join(
        f"SELECT id, v, {bi} AS band, (sig >> {bi * band_bits}) & {mask} AS key "
        "FROM sigs"
        for bi in range(n_bands)
    )
    return f"""
WITH sigs AS (
  SELECT vec_id AS id, embedding AS v, {sig_terms} AS sig
  FROM ({source_sql})
), bands AS (
  {band_rows}
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.v AS va, b.v AS vb
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.key = b.key AND a.id < b.id
)
SELECT id_a, id_b,
       round(list_cosine_similarity(va::DOUBLE[], vb::DOUBLE[]), 6) AS cosine
FROM cand
WHERE round(list_cosine_similarity(va::DOUBLE[], vb::DOUBLE[]), 6) >= {thr}
"""


KNN_LSH_PAIRS_SQL = _knn_lsh_pairs_oracle()


def _planted_source_sql() -> str:
    """The _planted_embeddings derivation in DuckDB SQL: same cast, same
    perturbation expression (x + 0.05·nrm·d_i, products left-assoc), same
    IEEE-exact sqrt norm — twins reproduce bit-for-bit."""
    dlit = "[" + ", ".join(repr(float(x)) for x in _TWIN_DIR) + "]::DOUBLE[]"
    return f"""
SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
UNION ALL
SELECT vec_id + {_TWIN_ID_OFFSET} AS vec_id,
       list_transform(generate_series(1, 64),
         i -> v[i] + {_TWIN_EPS!r} * nrm * ({dlit})[i]) AS embedding
FROM (SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_inner_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS nrm
      FROM embeddings)
WHERE vec_id % {_TWIN_RATE} = 0
"""


DEDUP_EMBEDDING_PAIRS_SQL = _knn_lsh_pairs_oracle(
    bits=60, band_bits=10, threshold=0.9, source_sql=_planted_source_sql()
)

DEDUP_EMBEDDING_PAIRS_STRESS_SQL = _knn_lsh_pairs_oracle(
    bits=48, band_bits=3, threshold=0.4
)


def embsig_base_build_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILD phase of the stored embedding-signature base
    (embedding_signature_store): run twin-plant → 60-bit hyperplane
    signature → L2 norm (member ``base``, bucketed by id) and the
    SemDeDup nearest-centroid assignment (member ``assign``, bucketed by
    list_id) ONCE over the corpus and commit both in one transaction.
    Four consumers probe the snapshot instead of re-deriving it
    (knn_lsh_pairs, dedup_embedding_pairs, semantic_dedup_embeddings —
    plus any future geometry with bits ≤ 60, since the plane stream is
    per-bit). ``force=True`` so the bench bills the corpus-scale build
    here, never hides it behind cross-process store reuse.

    Returns a certification summary READ BACK FROM THE STORED SNAPSHOT:
    per sig-residue group over ``base`` and per list over ``assign`` —
    row counts, a signature checksum (Σ sig mod 1000003), an id-sum for
    the assignment mapping, and an order-independent micro-int norm sum
    (Σ floor(nrm·1e6 + 0.5)) — any flipped signature bit, misassigned
    list, dropped twin, or perturbed vector value changes them, so a
    hash-matching oracle (which replays plant + signature + assignment
    in DuckDB) certifies the committed members, not a transient
    recompute."""
    from . import tableformat
    from ..functions.vector_functions import l2_norm

    root = embedding_signature_store(spark, sf_dir, force=True)
    base = tableformat.read_atomic(spark, root, "base")
    assign = tableformat.read_atomic(spark, root, "assign")
    nrm_micro = F.floor(F.col("nrm") * F.lit(1e6) + F.lit(0.5)).cast("long")
    base_cert = (
        base.groupBy((F.col("sig") % F.lit(16)).cast("long").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("sig") % F.lit(1000003)).cast("long").alias("chk1"),
            F.sum(nrm_micro).cast("long").alias("chk2"),
        )
        .select(
            F.lit("base").alias("member"), "grp", "n_rows", "chk1", "chk2"
        )
    )
    a_nrm_micro = F.floor(
        l2_norm(F.col("embedding")) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    assign_cert = (
        assign.groupBy(F.col("list_id").cast("long").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("vec_id").cast("long").alias("chk1"),
            F.sum(a_nrm_micro).cast("long").alias("chk2"),
        )
        .select(
            F.lit("assign").alias("member"), "grp", "n_rows", "chk1", "chk2"
        )
    )
    return base_cert.unionByName(assign_cert).orderBy("member", "grp")


def _embsig_build_oracle() -> str:
    """Replays the embsig build end-to-end in DuckDB: the twin plant
    (_planted_source_sql), the 60-bit signature (plane literals), the
    norms, and the dynamic-k SemDeDup assignment (the
    SEMANTIC_DEDUP_EMBEDDINGS_SQL cents/assign CTEs)."""
    sig60 = _sig_terms_sql(60)
    return f"""
WITH planted AS ({_planted_source_sql()}),
sigs AS (
  SELECT vec_id, {sig60} AS sig,
         sqrt(list_inner_product(embedding::DOUBLE[],
                                 embedding::DOUBLE[])) AS nrm
  FROM planted
),
base_cert AS (
  SELECT 'base' AS member, (sig % 16)::BIGINT AS grp,
         count(*)::BIGINT AS n_rows,
         sum(sig % 1000003)::BIGINT AS chk1,
         sum(CAST(floor(nrm * 1e6 + 0.5) AS BIGINT))::BIGINT AS chk2
  FROM sigs GROUP BY sig % 16
),
{_SQL_SEMDEDUP_LISTS},
assign_cert AS (
  SELECT 'assign' AS member, cid::BIGINT AS grp, count(*)::BIGINT AS n_rows,
         sum(vec_id)::BIGINT AS chk1,
         sum(CAST(floor(sqrt(list_inner_product(embedding::DOUBLE[],
             embedding::DOUBLE[])) * 1e6 + 0.5) AS BIGINT))::BIGINT AS chk2
  FROM assign GROUP BY cid
)
SELECT member, grp, n_rows, chk1, chk2 FROM base_cert
UNION ALL
SELECT member, grp, n_rows, chk1, chk2 FROM assign_cert
ORDER BY member, grp
"""


EMBSIG_BASE_BUILD_EMBEDDINGS_SQL = _embsig_build_oracle()


def simhash_base_build_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILD phase of the stored SimHash base
    (dedup.simhash_base_store): run the corpus-token-scale tokenize →
    60-conditional-sum vote aggregation ONCE and commit (id, simhash)
    bucketed by id. Three consumers probe the snapshot instead of
    re-deriving it (dedup_simhash_docs, dedup_simhash_pairs,
    simhash_multiprobe_pairs_docs — the signature is geometry-free, so
    one snapshot serves every banding/hamming radius). ``force=True`` so
    the bench bills the corpus-scale build honestly.

    Returns a per-signature-residue certification summary READ BACK FROM
    THE STORED SNAPSHOT: doc counts, Σ simhash mod 1000003, and Σ doc_id
    — any flipped bit or dropped doc changes them, so the hash-matching
    oracle (which replays the vote aggregation in DuckDB) certifies the
    committed signatures."""
    from . import tableformat

    root = dedup.simhash_base_store(spark, sf_dir, force=True)
    sig = tableformat.read_atomic(spark, root, "sig")
    return (
        sig.groupBy(
            F.col("simhash").bitwiseAND(F.lit(63)).cast("long").alias("grp")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("simhash") % F.lit(1000003)).cast("long").alias(
                "sighash"
            ),
            F.sum("id").cast("long").alias("idsum"),
        )
        .orderBy("grp")
    )


SIMHASH_BASE_BUILD_DOCS_SQL = f"""
SELECT (simhash & 63)::BIGINT AS grp, count(*)::BIGINT AS n_docs,
       sum(simhash % 1000003)::BIGINT AS sighash,
       sum(doc_id)::BIGINT AS idsum
FROM ({DEDUP_SIMHASH_DOCS_SQL})
GROUP BY simhash & 63
ORDER BY grp
"""


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------
def text_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/punctuation/stopword-ratio quality scores per document."""
    docs = load_table(spark, sf_dir, "documents")
    return text.text_quality(docs, "doc_id", "text").orderBy("doc_id")


_EN = ", ".join(f"'{w}'" for w in text.LANG_PROFILES["en"])

TEXT_QUALITY_DOCS_SQL = f"""
SELECT doc_id,
       CAST(len(toks) AS INTEGER)                           AS n_tokens,
       CAST(length(text) AS INTEGER)                        AS n_chars_computed,
       round(length(text)::DOUBLE / greatest(len(toks), 1), 4)  AS avg_token_len,
       round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
             / greatest(length(text), 1), 4)                AS punct_ratio,
       round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
             / greatest(length(text), 1), 4)                AS alpha_ratio,
       round(len(list_filter(toks, x -> x IN ({_EN})))::DOUBLE
             / greatest(len(toks), 1), 4)                   AS stopword_ratio
FROM (SELECT doc_id, text, {_SQL_TOKENS.format(c='text')} AS toks FROM documents)
"""


def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword-heuristic language ID per document (text.language_id)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.language_id(docs, "doc_id", "text").orderBy("doc_id")


def _lang_id_oracle() -> str:
    hits = ",\n       ".join(
        "len(list_filter(toks, x -> x IN ({}))) AS hits_{}".format(
            ", ".join(f"'{w}'" for w in words), lang
        )
        for lang, words in text.LANG_PROFILES.items()
    )
    langs = list(text.LANG_PROFILES)
    best = f"greatest({', '.join('hits_' + l for l in langs)})"
    case = " ".join(
        f"WHEN hits_{l} = best AND best > 0 THEN '{l}'" for l in langs
    )
    return f"""
WITH hits AS (
  SELECT doc_id,
       {hits}
  FROM (SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS toks FROM documents)
), scored AS (
  SELECT doc_id, {best} AS best, * FROM hits
)
SELECT doc_id, CASE {case} ELSE 'und' END AS pred_lang FROM scored
"""


LANG_ID_DOCS_SQL = _lang_id_oracle()


def token_count_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts per document (text module)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.token_counts(docs, "doc_id", "text").orderBy("doc_id")


TOKEN_COUNT_DOCS_SQL = f"""
SELECT doc_id,
       CAST(len({_SQL_TOKENS.format(c='text')}) AS INTEGER)      AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{BPE_ISH_PATTERN}', 0)) AS INTEGER) AS n_bpe_tokens
FROM documents
"""


def tfidf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (see text.tfidf_top_terms)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        text.tfidf_top_terms(docs, "doc_id", "text", top_n=3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "rk")
    )


TFIDF_DOCS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKENS.format(c='text')}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(((SELECT count(DISTINCT doc_id) FROM documents) + 1)
                          / (dfreq.df + 1)::DOUBLE), 6) AS tfidf
  FROM tf JOIN dfreq USING (term)
), ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rk
  FROM scored
)
SELECT doc_id, term, tfidf, CAST(rk AS INTEGER) AS rk FROM ranked WHERE rk <= 3
"""


def fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints (text fingerprinting tier)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.fingerprint(docs, "doc_id", "text").orderBy("doc_id")


FINGERPRINT_DOCS_SQL = f"""
SELECT doc_id,
       md5(text) AS fingerprint,
       {_SQL_HASH60.format(c='text')} AS fingerprint60
FROM documents
"""


def chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token chunks (size 32, stride 24) over documents — the
    context-packing pass; md5 per chunk keeps the compare compact."""
    docs = load_table(spark, sf_dir, "documents")
    return text.chunk_tokens(docs, "doc_id", "text", size=32, stride=24).orderBy(
        "doc_id", "chunk_start"
    )


CHUNK_DOCS_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS toks FROM documents
), ex AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks), 24)) AS chunk_start
  FROM toks WHERE len(toks) > 0
)
SELECT doc_id, CAST(chunk_start AS INTEGER) AS chunk_start,
       CAST(len(list_slice(toks, chunk_start, chunk_start + 31)) AS INTEGER)
         AS n_chunk_tokens,
       md5(array_to_string(list_slice(toks, chunk_start, chunk_start + 31), ' '))
         AS chunk_md5
FROM ex
"""


def pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + audit counts. The fixture corpus carries no PII, so
    the query APPENDS deterministic synthetic PII (email+IP on even doc_ids,
    phone on odd) before scrubbing — the oracle replays the same synthesis,
    making the redaction path value-checked end to end (same pattern as
    multimodal_metadata_docs' synthesized containers)."""
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.withColumn(
        "text",
        F.expr(
            "CASE WHEN doc_id % 2 = 0 THEN "
            "concat(text, ' contact user', doc_id, '@example.com from 10.', "
            "doc_id % 256, '.0.1') "
            "ELSE concat(text, ' call +1 555-', "
            "lpad(cast(doc_id % 1000 as string), 3, '0'), '-0199') END"
        ),
    )
    return text.pii_scrub(seeded, "doc_id", "text").orderBy("doc_id")


PII_SCRUB_DOCS_SQL = """
WITH seeded AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN
           concat(text, ' contact user', doc_id, '@example.com from 10.',
                  doc_id % 256, '.0.1')
         ELSE concat(text, ' call +1 555-',
                     lpad((doc_id % 1000)::VARCHAR, 3, '0'), '-0199') END AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::INTEGER AS n_emails,
       len(regexp_extract_all(text,
           '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}'))::INTEGER AS n_ips,
       len(regexp_extract_all(text, '\\+\\d \\d{3}-\\d{3}-\\d{4}'))::INTEGER AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}', '<IP>', 'g'),
           '\\+\\d \\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g')) AS scrub_md5
FROM seeded
"""


def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any word 3-gram with
    the pseudo-benchmark slice (doc_id % 97 == 0). Hash-keyed broadcast
    overlap join — dedup.contamination's shape, with BOTH gram sides
    read from the committed shingle base (r13, the r12 verdict's task 6:
    same-session A/B at sf0.1 measured 1.5 s inline vs 0.5 s stored —
    the tokenize→shingle→distinct pass over the full corpus is already
    committed by shingle_base_build_docs, so re-deriving it per query
    was pure waste; values are identical because the stored sset IS the
    distinct gram set, docs under 3 tokens have no grams on either
    path). dedup.contamination remains the general two-frame operator
    for external eval sets that have no stored base."""

    base, _ = dedup.shingle_base_probe(spark, sf_dir)
    grams = base.select(
        F.col("id"), F.explode("sset").alias("gram")
    ).select("id", md5_hash60(F.col("gram")).alias("gram_h"))
    d_grams = grams.filter(F.col("id") % 97 != 0)
    b_grams = (
        grams.filter(F.col("id") % 97 == 0).select("gram_h").distinct()
    )
    return (
        d_grams.join(F.broadcast(b_grams), "gram_h")
        .groupBy("id")
        .agg(F.countDistinct("gram_h").alias("n_hits"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


DECONTAMINATE_DOCS_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS t FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 0)),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')
         ))) AS gram
  FROM toks
), hashed AS (
  SELECT doc_id, {_SQL_HASH60.format(c='gram')} AS gram_h FROM grams
)
SELECT a.doc_id, count(DISTINCT a.gram_h) AS n_hits
FROM hashed a
JOIN (SELECT DISTINCT gram_h FROM hashed WHERE doc_id % 97 = 0) b
  USING (gram_h)
WHERE a.doc_id % 97 <> 0
GROUP BY a.doc_id
"""


def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks the customer's latest order at-or-before
    the event time (union-merge window formulation — one shuffle, no
    inequality join). Orders are deduped to one per (custkey, date) with max
    orderkey first, since both engines' as-of tie-break at equal timestamps
    would otherwise be arbitrary."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    out = temporal.asof_join(
        ev,
        orders.withColumnRenamed("o_custkey", "user_id"),
        key="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        right_values=["o_orderkey"],
    )
    return out.select("event_id", "user_id", "o_orderkey").orderBy("event_id")


ASOF_JOIN_EVENTS_ORDERS_SQL = """
WITH o AS (
  SELECT o_custkey AS user_id, o_orderdate,
         max(o_orderkey) AS o_orderkey
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, o.o_orderkey
FROM events e
ASOF LEFT JOIN o ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
"""


def range_join_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: same-user event pairs where the follower lands within 1
    hour of the leader — binned equi-join, exact predicate post-join (never
    an inequality nested-loop join). The canonical funnel/attribution
    shape."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    lead = ev.select(
        "user_id", F.col("event_id").alias("lead_id"), F.col("ts").alias("lead_ts")
    )
    follow = ev.select(
        "user_id",
        F.col("event_id").alias("follow_id"),
        F.col("ts").alias("follow_ts"),
    )
    out = temporal.range_join_binned(
        follow,
        lead,
        key="user_id",
        left_ts="follow_ts",
        right_start="lead_ts",
        interval_seconds=3600,
    ).filter(F.col("lead_id") != F.col("follow_id"))
    return out.select("lead_id", "follow_id").orderBy("lead_id", "follow_id")


RANGE_JOIN_EVENT_PAIRS_SQL = """
SELECT a.event_id AS lead_id, b.event_id AS follow_id
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts
 AND b.ts < a.ts + INTERVAL 1 HOUR
 AND a.event_id <> b.event_id
"""


def skew_salted_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over events by event_type (a
    low-cardinality, skew-prone key) — identical results to a plain
    groupBy, hot keys spread over 32 reducers first. Oracle is the
    UNSALTED GROUP BY: equivalence is the correctness claim."""
    ev = load_table(spark, sf_dir, "events")
    out = skew.salted_agg(
        ev,
        keys=["event_type"],
        salt_from="event_id",
        buckets=32,
        partials={
            "n_events": (F.count(F.lit(1)), F.sum("n_events")),
            "sum_value": (F.sum("value"), F.sum("sum_value")),
        },
    )
    return out.select(
        "event_type", "n_events", F.round("sum_value", 2).alias("sum_value")
    ).orderBy("event_type")


SKEW_SALTED_AGG_EVENTS_SQL = """
SELECT event_type,
       count(*)             AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY event_type
"""


def knn_ivf_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat with n_probe == n_lists: exhaustive probing, so the result
    is EXACT and shares knn_cosine_topk's oracle — this gates the whole IVF
    machinery (centroid assignment, list equi-join, per-list ranking)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = similarity.ivf_centroids_from_sample(emb, n_lists=8)
    return similarity.ivf_topk(emb, queries, cents, k=10, n_probe=8).orderBy(
        "query_id", "rank"
    )


def knn_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat at n_probe=2 of 8 lists — the production latency/recall
    trade. Centroid seeds are deterministic (the 8 lowest-id vectors), so
    the DuckDB oracle replays the full IVF algorithm — assignment, probe
    selection, list-restricted scoring, ranking — and the approximate
    operator is value-checked (recall vs the exact twin additionally
    asserted in pytest)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = similarity.ivf_centroids_from_sample(emb, n_lists=8)
    return similarity.ivf_topk(emb, queries, cents, k=10, n_probe=2).orderBy(
        "query_id", "rank"
    )


#: Full SQL replay of IVF-Flat (n_lists=8, n_probe=2, k=10): centroids are
#: the 8 lowest-vec_id embeddings (ivf_centroids_from_sample); assignment
#: ranks centroid dot products descending with index ascending tie-break
#: (ivf_assign's array_sort on (-dot, idx)); scoring/ranking mirrors
#: KNN_COSINE_TOPK_SQL on the probed lists only.
KNN_IVF_TOPK_SQL = f"""
WITH cents AS (
  {_sql_seed_cents(8)}
), {_sql_ivf_corpus_assign("cents")}, {_sql_ivf_probe_topk("cents")}
"""


# --------------------------------------------------------------------------
# Multimodal: opaque binary columns with typed metadata. The query
# synthesizes valid PNG/WAV containers from the documents table with
# KNOWN header fields, pushes them through the real binary operators
# (magic-byte sniff + mapInPandas header parse), and the oracle recomputes
# the expected fields from doc_id — a bit-level check of the binary path.
# --------------------------------------------------------------------------
def multimodal_metadata_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata extraction over synthesized PNG/WAV blobs — see the header-comment block above for the bit-level oracle design."""
    import struct

    import pandas as pd

    from . import multimodal

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def _synth(it):
        for pdf in it:
            paths, blobs = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                if d % 2 == 0:
                    w, h = d % 512 + 1, (d * 7) % 512 + 1
                    blob = (
                        b"\x89PNG\r\n\x1a\n"
                        + struct.pack(">I", 13)
                        + b"IHDR"
                        + struct.pack(">II", w, h)
                        + bytes([8, 2, 0, 0, 0])
                        + b"\x00" * 8
                    )
                else:
                    ch = (d // 2) % 2 + 1
                    sr = 8000 * (d % 5 + 1)
                    blob = (
                        b"RIFF"
                        + struct.pack("<I", 36)
                        + b"WAVE"
                        + b"fmt "
                        + struct.pack("<I", 16)
                        + struct.pack("<HHIIHH", 1, ch, sr, sr * ch * 2, ch * 2, 16)
                        + b"data"
                    )
                paths.append(str(d))
                blobs.append(blob)
            yield pd.DataFrame({"path": paths, "content": blobs})

    # r14 (guide §4): `binary` feeds both the sniff and the metadata
    # extract, and the join between them re-ran the Python synth on each
    # side (plan-measured: 3 Arrow stages). The blobs here are header-only
    # fixtures (tens of bytes/row), so one EAGER localCheckpoint runs the
    # synth once and both branches read the materialized rows.
    binary = cut(docs.mapInPandas(
        _synth, schema="path string, content binary"
    ))
    sniffed = multimodal.sniff_format(binary).select(
        "path", F.col("format").alias("sniffed")
    )
    meta = multimodal.extract_metadata(binary)
    return (
        meta.join(sniffed, "path")
        .select(
            "path",
            "format",
            "sniffed",
            F.coalesce("width", F.lit(-1)).alias("width"),
            F.coalesce("height", F.lit(-1)).alias("height"),
            F.coalesce("channels", F.lit(-1)).alias("channels"),
            F.coalesce("sample_rate", F.lit(-1)).alias("sample_rate"),
        )
        .orderBy("path")
    )


MULTIMODAL_METADATA_DOCS_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS path,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS format,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS sniffed,
       CASE WHEN doc_id % 2 = 0 THEN doc_id % 512 + 1 ELSE -1 END::INT AS width,
       CASE WHEN doc_id % 2 = 0 THEN (doc_id * 7) % 512 + 1 ELSE -1 END::INT
           AS height,
       CASE WHEN doc_id % 2 = 1 THEN (doc_id // 2) % 2 + 1 ELSE -1 END::INT
           AS channels,
       CASE WHEN doc_id % 2 = 1 THEN 8000 * (doc_id % 5 + 1) ELSE -1 END::INT
           AS sample_rate
FROM documents
"""


def winnow_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints per document: k=5 char-gram 60-bit
    hashes, window-of-4 minima, distinct. Exploded rows; exact DuckDB
    replay as the oracle.

    r10: reads the COMMITTED fingerprint table (text.winnow_fingerprint
    _store — built once per corpus, probed by all three fingerprint
    consumers) instead of re-deriving the pipeline from raw text. The
    oracle replays the stored content exactly, same contract as the
    stored IVF probes."""
    # No orderBy: the output is ~90 fingerprints/doc (440k rows at sf0.1) and
    # the driver's value-hash compare is order-insensitive — a global sort
    # here would be a pure-waste range-partition shuffle.
    return text.winnow_fingerprint_probe(spark, sf_dir, k=5, w=4).select(
        "doc_id", "winnow_hash"
    )


WINNOW_FINGERPRINT_DOCS_SQL = f"""
WITH {_sql_winnow_fp()}
SELECT doc_id, winnow_hash FROM fp
"""


def dedup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (blocked exact Jaccard ≥ 0.3) resolved into dedup
    CLUSTERS via iterative min-label connected components. The oracle
    replays the transitive closure with a recursive CTE — iterative Spark
    vs recursive SQL, same fixpoint. Pairs come from the committed
    shingle-base snapshot (r11, see shingle_base_store)."""
    pairs = dedup.jaccard_pairs_stored(spark, sf_dir, threshold=0.3)
    return (
        dedup.connected_components(pairs)
        .select(F.col("id").alias("doc_id"), F.col("comp").alias("component"))
        .orderBy("doc_id")
    )


DEDUP_CLUSTERS_DOCS_SQL = f"""
WITH RECURSIVE {_SQL_SHINGLE_BLOCKS}, pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  {_SQL_BLOCKED_PAIRS}
  WHERE {_sql_jaccard()} >= 0.3
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
), reach AS (
  SELECT a AS id, a AS r FROM edges
  UNION
  SELECT reach.id, e.b AS r FROM reach JOIN edges e ON e.a = reach.r
)
SELECT id AS doc_id, min(r) AS component
FROM reach GROUP BY id
"""


def sample_docs_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% corpus sample by md5 of doc_id — reproducible on
    any partitioning/engine, unlike seed-based df.sample()."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.hash_sample(docs, "doc_id", percent=10).select(
        "doc_id", "source", "lang"
    ).orderBy("doc_id")


SAMPLE_DOCS_HASH_SQL = f"""
SELECT doc_id, source, lang
FROM documents
WHERE {_SQL_HASH60.format(c='doc_id::VARCHAR')} % 100 < 10
"""


def cap_per_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota: keep the 20 longest documents per source
    (deterministic n_chars-desc, doc_id tie-break ranking)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.cap_per_key(
        docs,
        key_cols=["source"],
        order_cols=[F.col("n_chars").desc(), F.col("doc_id").asc()],
        cap=20,
    ).select("source", "doc_id", "n_chars", "rk").orderBy("source", "rk")


CAP_PER_SOURCE_DOCS_SQL = """
SELECT source, doc_id, n_chars, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM documents
) WHERE rk <= 20
"""


def normalize_text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical normalization pass (lowercase / strip non-alnum / collapse
    whitespace) — emitted as md5 of the normalized text so the compare stays
    compact."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        text.normalize(docs, "doc_id", "text")
        .select("doc_id", F.md5("norm_text").alias("norm_md5"))
        .orderBy("doc_id")
    )


NORMALIZE_TEXT_DOCS_SQL = """
SELECT doc_id,
       md5(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             ' +', ' ', 'g'))) AS norm_md5
FROM documents
"""


def mix_corpus_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mix: 80% of src0, 50% of src1, 10% of src2, rest
    dropped — one narrow deterministic filter."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.weighted_mix(
        docs, "doc_id", "source", {"src0": 80, "src1": 50, "src2": 10}
    ).select("doc_id", "source").orderBy("doc_id")


MIX_CORPUS_DOCS_SQL = f"""
SELECT doc_id, source
FROM documents
WHERE {_SQL_HASH60.format(c='doc_id::VARCHAR')} % 100 <
      CASE source WHEN 'src0' THEN 80 WHEN 'src1' THEN 50
                  WHEN 'src2' THEN 10 ELSE 0 END
"""


def embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (k-means update step), exploded to
    (grp, dim, centroid_val) rows — shuffle key count is labels × dims."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.group_centroids(emb, "label", "embedding").orderBy("grp", "dim")


def kmeans_centroids_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Lloyd iterations, k=4 (see similarity.kmeans_centroids);
    the oracle replays both rounds in SQL — assignment argmax with cid
    tie-break, per-dim means rounded 6 dp between rounds."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.kmeans_centroids(
        emb, vec_col="embedding", k=4, n_iter=2, id_col="vec_id"
    ).orderBy("grp", "dim")


KMEANS_CENTROIDS_EMBEDDINGS_SQL = f"""
WITH {_sql_lloyd_ctes(4, 1)}, a2 AS (
  {_sql_nearest_cid("c1l")}
)
SELECT CAST(cid AS INTEGER) AS grp, CAST(i - 1 AS INTEGER) AS dim,
       round(avg(e.embedding[i]::DOUBLE), 6) AS centroid_val
FROM a2 JOIN embeddings e USING (vec_id), generate_series(1, 64) s(i)
GROUP BY cid, i
"""


# 64 = the embeddings table's (constant) dimensionality at every sf
# (TESTDATA.md tables are generated with dim=64); the WHERE guard keeps the
# oracle correct even if a shorter vector ever appears.
EMBEDDING_CENTROIDS_BY_LABEL_SQL = """
SELECT label AS grp, CAST(i - 1 AS INTEGER) AS dim,
       round(avg(embedding[i]::DOUBLE), 6) AS centroid_val
FROM embeddings, generate_series(1, 64) AS s(i)
WHERE i <= len(embedding)
GROUP BY 1, 2
"""




# --------------------------------------------------------------------------
# Corpus quality battery (Gopher/C4-style filters, corpus n-gram stats)
# --------------------------------------------------------------------------
_SQL_BIGRAMS = (
    "list_transform(range(1, greatest(len({t}), 1)), "
    "i -> {t}[i] || ' ' || {t}[i+1])"
)


def repetition_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (dup-token / top-token / dup-bigram
    fractions) over documents — see text.repetition_stats."""
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_stats(docs, "doc_id", "text").orderBy("doc_id")


REPETITION_STATS_DOCS_SQL = f"""
WITH base AS (
  SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS toks FROM documents
), top AS (
  SELECT doc_id, max(c) AS top_c FROM (
    SELECT doc_id, t, count(*) AS c
    FROM (SELECT doc_id, unnest(toks) AS t FROM base) GROUP BY 1, 2
  ) GROUP BY 1
), narrow AS (
  SELECT doc_id,
         CAST(len(toks) AS INTEGER)                  AS n_tokens,
         CAST(len(list_distinct(toks)) AS INTEGER)   AS n_distinct_tokens,
         CAST(len({_SQL_BIGRAMS.format(t='toks')}) AS INTEGER) AS n_bigrams,
         CAST(len(list_distinct({_SQL_BIGRAMS.format(t='toks')})) AS INTEGER)
                                                     AS n_distinct_bigrams
  FROM base
)
SELECT narrow.doc_id, n_tokens, n_distinct_tokens, n_bigrams,
       n_distinct_bigrams,
       coalesce(top_c, 0) AS top_token_count,
       (n_tokens - n_distinct_tokens) / greatest(n_tokens, 1)
           AS dup_token_frac,
       coalesce(top_c, 0) / greatest(n_tokens, 1) AS top_token_frac,
       (n_bigrams - n_distinct_bigrams) / greatest(n_bigrams, 1)
           AS dup_bigram_frac
FROM narrow LEFT JOIN top ON narrow.doc_id = top.doc_id
"""


def quality_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher composite quality gate (5 boolean sub-filters + keep) —
    see text.quality_flags."""
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_flags(docs, "doc_id", "text").orderBy("doc_id")


# Per-document quality stats over ``toks``/``text`` and the keep rule over
# them (the text.QUALITY_* constants of text.quality_flags), shared by every
# oracle that replays the quality gate.
_SQL_STOPWORDS = ", ".join(f"'{w}'" for w in text.ALL_STOPWORDS)
_SQL_QUALITY_STATS = f"""CAST(len(toks) AS INTEGER) AS n,
         CAST(len(list_distinct(toks)) AS INTEGER) AS nd,
         CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
              AS BIGINT) AS sum_len,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
             AS n_sym,
         CAST(len(list_filter(toks, x -> x IN ({_SQL_STOPWORDS}))) AS INTEGER)
             AS hits"""
_SQL_QUALITY_KEEP = f"""(n BETWEEN {text.QUALITY_MIN_TOKENS} AND {text.QUALITY_MAX_TOKENS})
       AND (sum_len >= {text.QUALITY_MIN_MEAN_WORD_LEN} * n
            AND sum_len <= {text.QUALITY_MAX_MEAN_WORD_LEN} * n)
       AND hits >= {text.QUALITY_MIN_STOPWORD_HITS}
       AND n_sym * 10 <= {text.QUALITY_MAX_SYMBOL_PER_10_CHARS} * n_chars
       AND (n - nd) * {text.QUALITY_MAX_DUP_FRAC_DEN}
           <= {text.QUALITY_MAX_DUP_FRAC_NUM} * n"""

QUALITY_FILTER_DOCS_SQL = f"""
WITH base AS (
  SELECT doc_id, text, {_SQL_TOKENS.format(c='text')} AS toks FROM documents
), m AS (
  SELECT doc_id,
         {_SQL_QUALITY_STATS}
  FROM base
)
SELECT doc_id,
       n AS n_tokens,
       n BETWEEN {text.QUALITY_MIN_TOKENS} AND {text.QUALITY_MAX_TOKENS}
           AS ok_len,
       sum_len >= {text.QUALITY_MIN_MEAN_WORD_LEN} * n
           AND sum_len <= {text.QUALITY_MAX_MEAN_WORD_LEN} * n AS ok_word_len,
       hits >= {text.QUALITY_MIN_STOPWORD_HITS} AS ok_stopword,
       n_sym * 10 <= {text.QUALITY_MAX_SYMBOL_PER_10_CHARS} * n_chars
           AS ok_symbol,
       (n - nd) * {text.QUALITY_MAX_DUP_FRAC_DEN}
           <= {text.QUALITY_MAX_DUP_FRAC_NUM} * n AS ok_repetition,
       {_SQL_QUALITY_KEEP} AS keep
FROM m
"""


def ngram_topk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 bigrams by frequency — see text.ngram_topk."""
    docs = load_table(spark, sf_dir, "documents")
    return text.ngram_topk(docs, "text", k=2, top_n=20)


NGRAM_TOPK_CORPUS_SQL = f"""
SELECT ngram, count(*) AS n_occurrences
FROM (
  SELECT unnest({_SQL_BIGRAMS.format(t='toks')}) AS ngram
  FROM (SELECT {_SQL_TOKENS.format(c='text')} AS toks FROM documents)
)
GROUP BY 1
ORDER BY n_occurrences DESC, ngram ASC
LIMIT 20
"""


def corpus_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length histogram: per (lang, 100-char length bucket) doc
    count and char-length min/max — the shape-of-the-corpus report every
    training-data run starts with. Single partial+final agg on a narrow
    composite key; integer bucket arithmetic (no float binning)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            "lang", F.floor(F.col("n_chars") / F.lit(100)).alias("len_bucket")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "len_bucket")
    )


CORPUS_STATS_BY_LANG_SQL = """
SELECT lang, n_chars // 100 AS len_bucket, count(*) AS n_docs,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM documents
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Training-data pipeline: sequence packing, substring-dup profiling,
# inverted index, dataset splits, embedding quantization
# --------------------------------------------------------------------------
def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy concat-and-split training-sequence packing (256-token
    sequences), parallel per source shard — see text.pack_sequences."""
    docs = load_table(spark, sf_dir, "documents")
    return text.pack_sequences(docs, "doc_id", "text", target=256).orderBy(
        "shard", "doc_id"
    )


PACK_SEQUENCES_DOCS_SQL = f"""
WITH toks AS (
  SELECT source AS shard, doc_id,
         len({_SQL_TOKENS.format(c='text')}) AS n_tokens
  FROM documents
), c AS (
  SELECT shard, doc_id, n_tokens::BIGINT AS n_tokens,
         (sum(n_tokens) OVER (
            PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
          ) - n_tokens)::BIGINT AS start
  FROM toks WHERE n_tokens > 0
)
SELECT shard, doc_id, n_tokens,
       (start // 256)::BIGINT AS seq_id,
       (start % 256)::BIGINT AS seq_offset
FROM c
"""


def dup_ngram_fraction_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated 5-gram profile (Lee et al. substring-dedup
    metric) — see text.dup_ngram_fraction."""
    docs = load_table(spark, sf_dir, "documents")
    return text.dup_ngram_fraction(docs, "doc_id", "text", k=5).orderBy("id")


DUP_NGRAM_FRACTION_DOCS_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS t FROM documents
), grams AS (
  SELECT doc_id AS id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 4, 0)),
           i -> array_to_string(list_slice(t, i, i + 4), ' ')
         ))) AS gram
  FROM toks
), hashed AS (
  SELECT id, {_SQL_HASH60.format(c='gram')} AS gram_h FROM grams
), dfq AS (
  SELECT gram_h, count(DISTINCT id) AS nd FROM hashed GROUP BY gram_h
)
SELECT id, count(*)::BIGINT AS n_grams,
       sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_grams,
       floor(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 10000.0
             / count(*) + 0.5)::BIGINT AS dup_bp
FROM hashed JOIN dfq USING (gram_h)
GROUP BY id
"""


def inverted_index_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the mid-frequency BIGRAM band (df in [3, 40];
    the fixture's unigram vocabulary is ~30 near-ubiquitous words, so
    bigrams give the realistic Zipf spectrum) — see text.inverted_index."""
    docs = load_table(spark, sf_dir, "documents")
    return text.inverted_index(
        docs, "doc_id", "text", min_df=3, max_df=40, k=2
    ).orderBy("term")


INVERTED_INDEX_TERMS_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS.format(c='text')} AS t FROM documents
), td AS (
  SELECT doc_id AS id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 1, 0)),
           i -> array_to_string(list_slice(t, i, i + 1), ' ')
         ))) AS term
  FROM toks
), dfq AS (
  SELECT term, count(*)::BIGINT AS df_docs FROM td GROUP BY term
  HAVING count(*) BETWEEN 3 AND 40
)
SELECT term, df_docs,
       array_to_string(list_sort(list(id)), ',') AS postings
FROM td JOIN dfq USING (term)
GROUP BY term, df_docs
"""


def split_docs_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by doc_id hash — see
    sampling.assign_splits."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        sampling.assign_splits(docs, "doc_id")
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id")
    )


SPLIT_DOCS_HASH_SQL = f"""
SELECT doc_id, h % 100 AS bucket,
       CASE WHEN h % 100 < 80 THEN 'train'
            WHEN h % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, {_SQL_HASH60.format(c='doc_id::VARCHAR')} AS h FROM documents)
"""


def quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — see
    similarity.quantize_int8."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.quantize_int8(emb, "vec_id", "embedding").orderBy("vec_id")


QUANTIZE_EMBEDDINGS_SQL = """
WITH s AS (
  SELECT vec_id,
         list_transform(embedding, v -> v::DOUBLE) AS x,
         greatest(list_max(list_transform(embedding, v -> abs(v::DOUBLE))),
                  1e-12) / 127.0 AS scale
  FROM embeddings
), q AS (
  SELECT vec_id,
         len(x)::BIGINT AS n_dims,
         floor(scale * 1000000.0 + 0.5)::BIGINT AS scale_micro,
         list_transform(x, v -> floor(v / scale + 0.5)::INTEGER) AS qq
  FROM s
)
SELECT vec_id, n_dims, scale_micro,
       list_min(qq)::BIGINT AS q_min,
       list_max(qq)::BIGINT AS q_max,
       array_to_string(qq, ',') AS q
FROM q
"""


def _trade_pairs(o: DataFrame, li: DataFrame) -> DataFrame:
    """Distinct (customer, supplier) trade pairs of orders ⋈ lineitem as
    integer nodes ``c`` = custkey*2 and ``s`` = suppkey*2+1."""
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )


def pagerank_supplier_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed iterations, d=0.85) over the bipartite
    customer↔supplier trade graph (distinct pairs via orders⋈lineitem) —
    see graph.pagerank. The oracle replays all three join+agg rounds in
    chained CTEs with every float op forced to DOUBLE."""
    from . import graph

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # Integer node encoding (custkey*2 / suppkey*2+1): every shuffle and
    # join in the iterations moves 8-byte keys; the human-readable label is
    # attached once, at output time, not carried through the hot path.
    pairs = _trade_pairs(o, li)
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    ranked = graph.pagerank(
        edges, n_iter=3, damping=0.85, every_node_has_out_edges=True
    )
    label = F.when(
        F.col("node") % 2 == 0, F.concat(F.lit("c:"), (F.col("node") / 2).cast("long"))
    ).otherwise(F.concat(F.lit("s:"), ((F.col("node") - 1) / 2).cast("long")))
    return ranked.select(label.alias("node"), "pr_nano").orderBy("node")


def _pagerank_oracle_sql(n_iter: int = 3) -> str:
    """Chained-CTE replay of graph.pagerank: same joins, same DOUBLE ops.

    1.0::DOUBLE - 0.85::DOUBLE (not the literal 0.15) so the teleport term
    is the bit-identical IEEE value Spark computes from (1.0 - damping).
    Inflow replays the Spark side's femto-quantized integer sum (see
    graph.pagerank): per-edge contributions become BIGINTs before the
    aggregation, so sum order cannot shift an ulp between engines.
    """
    sql = """
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
), nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
), nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
deg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY src),
p0 AS (SELECT node, (1.0::DOUBLE / nn.n) AS pr FROM nodes, nn)
"""
    prev = "p0"
    for it in range(1, n_iter + 1):
        sql += f""", p{it} AS (
  SELECT nodes.node,
         ((1.0::DOUBLE - 0.85::DOUBLE) / nn.n)
           + 0.85::DOUBLE
             * (coalesce(inf.inflow_femto, 0)::DOUBLE / 1e15::DOUBLE) AS pr
  FROM nodes CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node,
           sum(floor(p.pr / deg.deg * 1e15::DOUBLE + 0.5)::BIGINT) AS inflow_femto
    FROM edges e JOIN deg ON deg.src = e.src JOIN {prev} p ON p.node = e.src
    GROUP BY e.dst
  ) inf ON inf.node = nodes.node
)"""
        prev = f"p{it}"
    sql += f"""
SELECT CASE WHEN node % 2 = 0 THEN 'c:' || (node // 2)
            ELSE 's:' || ((node - 1) // 2) END AS node,
       floor(pr * 1e9 + 0.5)::BIGINT AS pr_nano
FROM {prev}
"""
    return sql


PAGERANK_SUPPLIER_GRAPH_SQL = _pagerank_oracle_sql(3)


def covariance_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle 64x64 covariance matrix of the embedding column (the
    PCA / whitening prep aggregate) — see similarity.covariance_matrix."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.covariance_matrix(emb, "embedding", dim=64).orderBy("i", "j")


# Per-dim means and upper-triangle mean products of the 64-dim embeddings.
_SQL_COV_CTES = """ex AS (
  SELECT vec_id, g.i - 1 AS i, embedding[g.i]::DOUBLE AS x
  FROM embeddings, generate_series(1, 64) AS g(i)
), means AS (
  SELECT i, avg(x) AS m FROM ex GROUP BY i
), prods AS (
  SELECT a.i AS i, b.i AS j, avg(a.x * b.x) AS pij
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.i >= a.i
  GROUP BY a.i, b.i
)"""
COVARIANCE_EMBEDDINGS_SQL = f"""
WITH {_SQL_COV_CTES}
SELECT p.i::BIGINT AS i, p.j::BIGINT AS j,
       floor((p.pij - ma.m * mb.m) * 1e6 + 0.5)::BIGINT AS cov_micro
FROM prods p JOIN means ma ON ma.i = p.i JOIN means mb ON mb.i = p.j
"""


def gapfill_events_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour-grid gap filling with LOCF over per-user event value sums
    (users ≤ 20 keep the grid bounded at tiny SFs) — see
    temporal.gapfill_locf."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    return temporal.gapfill_locf(
        ev, "user_id", "ts", "value", bucket_seconds=21600
    ).orderBy("key", "bucket")


GAPFILL_EVENTS_LOCF_SQL = """
WITH b AS (
  SELECT user_id AS key,
         (floor(epoch(ts) / 21600))::BIGINT * 21600 AS bucket,
         sum(value::DECIMAL(38,8)) AS s,
         count(*)::BIGINT AS c
  FROM events WHERE user_id <= 20
  GROUP BY 1, 2
), span AS (
  SELECT key, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY key
), grid AS (
  SELECT key, unnest(generate_series(lo, hi, 21600)) AS bucket FROM span
)
SELECT grid.key, grid.bucket,
       coalesce(b.c, 0)::BIGINT AS n_events,
       (last_value(b.s IGNORE NULLS) OVER (
         PARTITION BY grid.key ORDER BY grid.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ))::DOUBLE AS filled_sum
FROM grid LEFT JOIN b ON b.key = grid.key AND b.bucket = grid.bucket
"""


def skew_salted_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join: events (probe; hot user ids) ⋈ a per-user dim
    (build), join key widened to (user_id, salt) with the build side
    exploded ×8 — the hot key lands on 8 reducers instead of one. The
    oracle is the PLAIN join aggregate: salting must be semantically
    invisible (see skew.salted_join)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 500)
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    joined = skew.salted_join(
        ev, dim, on="user_id", buckets=8, probe_salt_from="event_id"
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.floor(F.sum("value") * F.lit(100) + F.lit(0.5)).cast("long").alias(
                "total_cents"
            ),
        )
        .orderBy("c_mktsegment")
    )


SKEW_SALTED_JOIN_EVENTS_SQL = """
SELECT c_mktsegment,
       count(*)::BIGINT AS n_events,
       floor(sum(value) * 100 + 0.5)::BIGINT AS total_cents
FROM events e
JOIN customer c ON c.c_custkey = e.user_id AND c.c_custkey <= 500
GROUP BY c_mktsegment
"""


def zipf_slope_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus token-frequency distribution: OLS slope of
    ln(freq) on ln(rank) (a healthy natural-language corpus sits near -1;
    synthetic or template-heavy corpora flatten) — the heavy-tail
    diagnostic of corpus analysis, as ONE regression aggregate over the
    ranked vocabulary. Rank ties break by token text so both engines rank
    identically.

    SCALE: rank = (#tokens with higher freq) + (#equal-freq tokens sorting
    earlier) + 1, assembled WITHOUT any unpartitioned window — a global
    row_number over the vocabulary is a single-partition sort at the
    10^8–10^9 token types of a web corpus. Distributed prefix-sum instead:
    (a) higher-freq counts come from the tiny freq histogram, log2-bucketed
        (≤64 buckets; bucket totals are collected driver metadata, the
        within-bucket cumsum is a window PARTITIONED by bucket);
    (b) the equal-freq tie index is a window partitioned by
        (freq, 2-char token prefix) — lexicographic prefix order equals
        token order, so within-prefix row_number plus the per-(freq,
        prefix) cumulative offset (window partitioned by freq over ≤64k
        prefix rows) reproduces the global tie-break while bounding every
        sorted partition (the freq=1 hapax class alone is ~half the
        vocabulary and would otherwise sort on one core)."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    # r14: eager cut at the vocab-scale freq table — it feeds FOUR
    # subtrees (the bucket-total collect, hist→higher, toks, poff) and
    # each would otherwise replay the corpus tokenize+explode+agg
    # (per-branch pruning defeats ReuseExchange — the covariance lesson)
    freqs = cut(
        docs.select(F.explode(text.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # (a) tokens with strictly higher freq, per distinct freq value
    hist = (
        freqs.groupBy("freq")
        .agg(F.count(F.lit(1)).alias("n_toks"))
        .withColumn("fb", F.floor(F.log2("freq")).cast("int"))
    )
    btot = hist.groupBy("fb").agg(F.sum("n_toks").alias("bn")).collect()
    boff, acc = {}, 0  # ≤64 rows of bounded driver metadata
    for r in sorted(btot, key=lambda r: -r["fb"]):
        boff[r["fb"]] = acc
        acc += r["bn"]
    boff_df = spark.createDataFrame(
        [(int(k), int(v)) for k, v in boff.items()], "fb int, boff long"
    )
    wb = W.partitionBy("fb").orderBy(F.col("freq").desc())
    higher = (
        hist.join(F.broadcast(boff_df), "fb")
        .withColumn("cum_b", F.sum("n_toks").over(wb))
        .select(
            "freq",
            (F.col("boff") + F.col("cum_b") - F.col("n_toks")).alias("higher_cnt"),
        )
    )
    # (b) tie index within equal freq, skew-bounded by token prefix
    toks = freqs.withColumn("pfx", F.substring("tok", 1, 2))
    wp = W.partitionBy("freq").orderBy(F.col("pfx").asc())
    poff = (
        toks.groupBy("freq", "pfx")
        .agg(F.count(F.lit(1)).alias("pn"))
        .withColumn("poff", F.sum("pn").over(wp) - F.col("pn"))
        .select("freq", "pfx", "poff")
    )
    wt = W.partitionBy("freq", "pfx").orderBy(F.col("tok").asc())
    ranked = (
        toks.join(poff, ["freq", "pfx"])
        .join(higher, "freq")
        .select(
            F.log(F.col("freq").cast("double")).alias("lf"),
            F.log(
                (
                    F.col("higher_cnt")
                    + F.col("poff")
                    + F.row_number().over(wt)
                ).cast("double")
            ).alias("lr"),
        )
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.floor(F.regr_slope(F.col("lf"), F.col("lr")) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("zipf_slope_micro"),
    )


ZIPF_SLOPE_CORPUS_SQL = f"""
WITH freqs AS (
  SELECT tok, count(*)::BIGINT AS freq
  FROM (SELECT unnest({_SQL_TOKENS.format(c='text')}) AS tok FROM documents)
  GROUP BY tok
), ranked AS (
  SELECT ln(freq::DOUBLE) AS lf,
         ln((row_number() OVER (ORDER BY freq DESC, tok ASC))::DOUBLE) AS lr
  FROM freqs
)
SELECT count(*)::BIGINT AS vocab_size,
       floor(regr_slope(lf, lr) * 1e6 + 0.5)::BIGINT AS zipf_slope_micro
FROM ranked
"""


def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching (entity-resolution shape) over customer names:
    DEDUPE-FIRST blocked Levenshtein. Identical names collapse to one
    weighted row before any pairing — the k^2-per-duplicate blowup guard
    (the 4x scale sweep showed 14.7x growth without it: verbatim-duplicated
    strings square inside their block). Distinct names then pair within
    16-char-prefix blocks (bounded fan-out equi-join, never all-pairs) and
    the edit-distance predicate runs once per distinct-name pair.

    Output histogram per distance: n_name_pairs (distinct-name pairs) and
    n_row_pairs (row-level pair mass via multiplicity products; distance 0
    is the exact-duplicate mass cnt*(cnt-1)/2, computed WITHOUT pairing).
    """
    c = load_table(spark, sf_dir, "customer").select("c_name")
    # r14: eager cut at the distinct-name table — both block sides of the
    # pair join AND the exact-duplicate agg replayed the scan+agg (3
    # customer scans in one plan); the Levenshtein stays the real cost
    names = cut(c.groupBy("c_name").agg(F.count(F.lit(1)).alias("cnt")))
    a = names.select(
        F.col("c_name").alias("name_a"),
        F.col("cnt").alias("cnt_a"),
        F.substring("c_name", 1, 16).alias("blk"),
    )
    b = names.select(
        F.col("c_name").alias("name_b"),
        F.col("cnt").alias("cnt_b"),
        F.substring("c_name", 1, 16).alias("blk"),
    )
    near = (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .select(
            # threshold arg → banded early-exit DP (O(k·len) not O(len²)),
            # returns -1 when dist > 2; measured 1.65x over unthresholded
            # with identical output
            F.levenshtein("name_a", "name_b", 2).cast("long").alias("edit_dist"),
            (F.col("cnt_a") * F.col("cnt_b")).alias("w"),
        )
        .filter(F.col("edit_dist") >= 0)
        .groupBy("edit_dist")
        .agg(
            F.count(F.lit(1)).alias("n_name_pairs"),
            F.sum("w").cast("long").alias("n_row_pairs"),
        )
    )
    exact = names.filter(F.col("cnt") >= 2).agg(
        F.count(F.lit(1)).alias("n_name_pairs"),
        F.sum(F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long").alias("n_row_pairs"),
    ).select(F.lit(0).cast("long").alias("edit_dist"), "n_name_pairs", "n_row_pairs")
    return near.union(exact).filter(F.col("n_name_pairs") > 0).orderBy("edit_dist")


FUZZY_MATCH_PARTS_SQL = """
WITH names AS (
  SELECT c_name, count(*)::BIGINT AS cnt FROM customer GROUP BY c_name
), b AS (
  SELECT c_name, cnt, substr(c_name, 1, 16) AS blk FROM names
), near AS (
  SELECT levenshtein(a.c_name, bb.c_name)::BIGINT AS edit_dist,
         count(*)::BIGINT AS n_name_pairs,
         sum(a.cnt * bb.cnt)::BIGINT AS n_row_pairs
  FROM b a JOIN b bb ON a.blk = bb.blk AND a.c_name < bb.c_name
  WHERE levenshtein(a.c_name, bb.c_name) <= 2
  GROUP BY 1
), exact AS (
  SELECT 0::BIGINT AS edit_dist,
         count(*)::BIGINT AS n_name_pairs,
         sum(cnt * (cnt - 1) / 2)::BIGINT AS n_row_pairs
  FROM names WHERE cnt >= 2
)
SELECT * FROM (
  SELECT * FROM near UNION ALL SELECT * FROM exact
) WHERE n_name_pairs > 0
"""


def dq_checks_star_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint battery (the dbt-test shape) as ONE unioned
    result: each row is (check, n_violations). Uniqueness via count-minus-
    distinct, referential integrity via anti joins, null checks as
    conditional counts — all partial-aggregated, no row ever leaves the
    executors except the per-check scalar."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check"), F.col("n").cast("long").alias("n_violations")
        )

    dup_pk = orders.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n")
    )
    null_key = orders.agg(
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias("n")
    )
    orphan_li = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    orphan_orders = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    neg_price = li.agg(
        F.sum(F.when(F.col("l_extendedprice") < 0, 1).otherwise(0)).alias("n")
    )
    return (
        one("orders_pk_unique", dup_pk)
        .union(one("orders_custkey_not_null", null_key))
        .union(one("lineitem_fk_orders", orphan_li))
        .union(one("orders_fk_customer", orphan_orders))
        .union(one("lineitem_price_nonnegative", neg_price))
        .orderBy("check")
    )


DQ_CHECKS_STAR_SCHEMA_SQL = """
SELECT 'orders_pk_unique' AS check,
       (count(*) - count(DISTINCT o_orderkey))::BIGINT AS n_violations
FROM orders
UNION ALL
SELECT 'orders_custkey_not_null',
       sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
FROM orders
UNION ALL
SELECT 'lineitem_fk_orders', count(*)::BIGINT
FROM lineitem l WHERE NOT EXISTS
  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'orders_fk_customer', count(*)::BIGINT
FROM orders o WHERE NOT EXISTS
  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'lineitem_price_nonnegative',
       sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END)::BIGINT
FROM lineitem
"""


def s3_event_decode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3-event JSON decode (streaming/s3_events.py) exercised as a batch
    query: deterministic event bodies are synthesized from the documents
    table — most well-formed (bucket = source, key = docs/<doc_id>.txt),
    plus planted malformed shapes for every warn path the reference has
    (ecs_service.rs:186-220: missing key, no Records array, invalid JSON).
    The decode itself is `from_json` + `explode_outer` — a narrow JVM
    projection; the aggregate proves every input row lands in exactly one
    status bucket with the right (bucket, key) extraction."""
    from ..streaming.s3_events import s3_event_files

    docs = load_table(spark, sf_dir, "documents")
    good = F.format_string(
        '{"Records":[{"eventVersion":"2.1","eventSource":"aws:s3",'
        '"s3":{"bucket":{"name":"%s"},"object":{"key":"docs/%d.txt","size":1024}}}]}',
        F.col("source"),
        F.col("doc_id"),
    )
    body = (
        F.when(F.col("doc_id") % 11 == 0, F.lit("this is not json"))
        .when(F.col("doc_id") % 7 == 0, F.lit('{"Event":"s3:TestEvent"}'))
        .when(
            F.col("doc_id") % 5 == 0,
            F.format_string(
                '{"Records":[{"s3":{"bucket":{"name":"%s"}}}]}', F.col("source")
            ),
        )
        .otherwise(good)
    )
    decoded = s3_event_files(docs.select(body.alias("body")))
    return (
        decoded.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count_distinct(F.col("bucket")).cast("long").alias("n_buckets"),
            F.min("key").alias("k_min"),
            F.max("key").alias("k_max"),
        )
        .orderBy("status")
    )


S3_EVENT_DECODE_DOCS_SQL = """
WITH bodies AS (
  SELECT CASE
    WHEN doc_id % 11 = 0 THEN 'this is not json'
    WHEN doc_id % 7 = 0 THEN '{"Event":"s3:TestEvent"}'
    WHEN doc_id % 5 = 0 THEN
      '{"Records":[{"s3":{"bucket":{"name":"' || source || '"}}}]}'
    ELSE
      '{"Records":[{"eventVersion":"2.1","eventSource":"aws:s3",'
      || '"s3":{"bucket":{"name":"' || source || '"},"object":{"key":"docs/'
      || doc_id || '.txt","size":1024}}}]}'
  END AS body
  FROM documents
), guarded AS (
  -- json_extract raises on invalid input, so validity gates every extract
  SELECT body, json_valid(body) AS ok_json FROM bodies
), decoded AS (
  SELECT
    CASE WHEN ok_json
      THEN json_extract_string(body, '$.Records[0].s3.bucket.name') END AS bucket,
    CASE WHEN ok_json
      THEN json_extract_string(body, '$.Records[0].s3.object.key') END AS key,
    CASE
      WHEN NOT ok_json THEN 'invalid_json'
      WHEN json_extract(body, '$.Records') IS NULL THEN 'no_records'
      WHEN json_extract_string(body, '$.Records[0].s3.bucket.name') IS NULL
        OR json_extract_string(body, '$.Records[0].s3.object.key') IS NULL
        THEN 'missing_bucket_or_key'
      ELSE 'ok'
    END AS status
  FROM guarded
)
SELECT status, count(*)::BIGINT AS n,
       count(DISTINCT bucket)::BIGINT AS n_buckets,
       min(key) AS k_min, max(key) AS k_max
FROM decoded GROUP BY status
"""


# ---------------------------------------------------------------------------
# Paragraph-level corpus dedup (text.paragraph_dedup)
# ---------------------------------------------------------------------------
def paragraph_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Dolma-style paragraph dedup with document reassembly. Each doc is
    prefixed with two boilerplate paragraphs (lang tag, source tag) shared
    by thousands of docs — the hot-hash skew case — plus its unique body;
    only the first (doc_id, pos) occurrence of each paragraph survives.
    Winner agg shuffles keys only; text moves in exactly one join."""
    docs = load_table(spark, sf_dir, "documents")
    with_boiler = docs.select(
        "doc_id",
        F.concat_ws(
            "\n\n",
            F.concat(F.lit("lang: "), F.col("lang")),
            F.concat(F.lit("source: "), F.col("source")),
            F.col("text"),
        ).alias("t"),
    )
    out = text.paragraph_dedup(with_boiler, "doc_id", "t")
    return out.select(
        F.col("id").alias("doc_id"),
        "n_paras",
        "n_kept",
        F.md5(F.col("text_dedup")).alias("dedup_md5"),
    ).orderBy("doc_id")


PARAGRAPH_DEDUP_DOCS_SQL = """
WITH src AS (
  SELECT doc_id,
         'lang: ' || lang || chr(10) || chr(10) ||
         'source: ' || source || chr(10) || chr(10) || text AS t
  FROM documents
), exploded AS (
  SELECT doc_id,
         unnest(string_split(t, chr(10)||chr(10))) AS para,
         unnest(range(1, len(string_split(t, chr(10)||chr(10))) + 1)) - 1 AS pos
  FROM src
), paras AS (
  SELECT doc_id, pos, para, md5(para) AS h
  FROM exploded WHERE trim(para) <> ''
), win AS (
  SELECT h, min(row(doc_id, pos)) AS w FROM paras GROUP BY h
), kept AS (
  SELECT p.doc_id, p.pos, p.para,
         (row(p.doc_id, p.pos) = win.w) AS keep
  FROM paras p JOIN win USING (h)
)
SELECT doc_id,
       count(*)::BIGINT AS n_paras,
       sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       md5(coalesce(
         string_agg(CASE WHEN keep THEN para END, chr(10)||chr(10) ORDER BY pos),
         '')) AS dedup_md5
FROM kept GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# CDC: snapshot diff + SCD Type-2 merge (operators/cdc.py)
# ---------------------------------------------------------------------------
def snapshot_diff_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-CDC delta between two deterministic snapshots of customer:
    today's snapshot drops custkey%10==0 (deletes), bumps acctbal by 100
    where custkey%7==0 (updates), and adds custkey+900000 clones where
    custkey%50==0 (inserts). One full-outer hash join on the key; attr
    comparison is a single md5 fingerprint."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    old = cust
    base = cust.filter(F.col("c_custkey") % 10 != 0)
    updated = base.withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100).otherwise(
            F.col("c_acctbal")
        ),
    )
    inserts = (
        cust.filter(F.col("c_custkey") % 50 == 0)
        .select(
            (F.col("c_custkey") + 900000).alias("c_custkey"),
            "c_mktsegment",
            "c_acctbal",
        )
    )
    new = updated.unionByName(inserts)
    out = cdc.snapshot_diff(old, new, ["c_custkey"], ["c_mktsegment", "c_acctbal"])
    return out.select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias(
            "acctbal_cents"
        ),
        "change_type",
    ).orderBy("c_custkey", "change_type")


SNAPSHOT_DIFF_CUSTOMERS_SQL = """
WITH old AS (
  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
), new AS (
  SELECT c_custkey, c_mktsegment,
         CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100 ELSE c_acctbal END
           AS c_acctbal
  FROM customer WHERE c_custkey % 10 <> 0
  UNION ALL
  SELECT c_custkey + 900000, c_mktsegment, c_acctbal
  FROM customer WHERE c_custkey % 50 = 0
), j AS (
  SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
         o.c_mktsegment AS om, o.c_acctbal AS ob,
         n.c_mktsegment AS nm, n.c_acctbal AS nb,
         (o.c_custkey IS NOT NULL) AS has_old,
         (n.c_custkey IS NOT NULL) AS has_new
  FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
)
SELECT c_custkey,
       CASE WHEN has_new THEN nm ELSE om END AS c_mktsegment,
       floor((CASE WHEN has_new THEN nb ELSE ob END) * 100 + 0.5)::BIGINT
         AS acctbal_cents,
       CASE WHEN NOT has_old THEN 'insert'
            WHEN NOT has_new THEN 'delete'
            WHEN om <> nm OR ob <> nb THEN 'update' END AS change_type
FROM j
WHERE (NOT has_old) OR (NOT has_new) OR om <> nm OR ob <> nb
ORDER BY c_custkey, change_type
"""


def scd2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball SCD Type-2 merge on the customer dimension. Seed dim =
    current snapshot (eff 0..null) plus pre-existing history rows for
    custkey%11==0; the update batch changes acctbal for custkey%5==0,
    replays identical rows for custkey%5==1 (must NOT open new versions),
    and lands brand-new keys (+900000 for custkey%50==0). History rows
    pass through with zero shuffle; only the current slice joins the batch."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    current = cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lit(0).cast("long").alias("eff_from"),
        F.lit(None).cast("long").alias("eff_to"),
        F.lit(True).alias("is_current"),
    )
    history = cust.filter(F.col("c_custkey") % 11 == 0).select(
        "c_custkey",
        F.lit("OLDSEG").alias("c_mktsegment"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit(-1).cast("long").alias("eff_from"),
        F.lit(0).cast("long").alias("eff_to"),
        F.lit(False).alias("is_current"),
    )
    dim = current.unionByName(history)
    updates = (
        cust.filter(F.col("c_custkey") % 5 <= 1)
        .select(
            "c_custkey",
            "c_mktsegment",
            F.when(F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + 100)
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 50 == 0).select(
                (F.col("c_custkey") + 900000).alias("c_custkey"),
                F.lit("NEWSEG").alias("c_mktsegment"),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
    )
    out = cdc.scd2_apply(
        dim,
        updates,
        ["c_custkey"],
        ["c_mktsegment", "c_acctbal"],
        batch_ts=F.lit(1).cast("long"),
    )
    return out.select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias(
            "acctbal_cents"
        ),
        "eff_from",
        F.coalesce(F.col("eff_to"), F.lit(-999)).alias("eff_to"),
        "is_current",
    ).orderBy("c_custkey", "eff_from", "is_current")


SCD2_CUSTOMERS_SQL = """
WITH cust AS (
  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
), history AS (                      -- untouched passthrough
  SELECT c_custkey, 'OLDSEG' AS c_mktsegment, 0.0 AS c_acctbal,
         -1::BIGINT AS eff_from, 0::BIGINT AS eff_to, false AS is_current
  FROM cust WHERE c_custkey % 11 = 0
), carried AS (                      -- no update, or identical replay
  SELECT c_custkey, c_mktsegment, c_acctbal,
         0::BIGINT AS eff_from, NULL::BIGINT AS eff_to, true AS is_current
  FROM cust WHERE c_custkey % 5 <> 0
), closed AS (                       -- changed: old version closed at ts=1
  SELECT c_custkey, c_mktsegment, c_acctbal,
         0::BIGINT, 1::BIGINT, false
  FROM cust WHERE c_custkey % 5 = 0
), opened AS (                       -- changed: new version opened at ts=1
  SELECT c_custkey, c_mktsegment, c_acctbal + 100,
         1::BIGINT, NULL::BIGINT, true
  FROM cust WHERE c_custkey % 5 = 0
), inserted AS (                     -- brand-new keys
  SELECT c_custkey + 900000, 'NEWSEG', 0.0, 1::BIGINT, NULL::BIGINT, true
  FROM cust WHERE c_custkey % 50 = 0
), unioned AS (
  SELECT * FROM history UNION ALL SELECT * FROM carried
  UNION ALL SELECT * FROM closed UNION ALL SELECT * FROM opened
  UNION ALL SELECT * FROM inserted
)
SELECT c_custkey, c_mktsegment,
       floor(c_acctbal * 100 + 0.5)::BIGINT AS acctbal_cents,
       eff_from, coalesce(eff_to, -999) AS eff_to, is_current
FROM unioned ORDER BY c_custkey, eff_from, is_current
"""


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup via cluster-bounded cosine (similarity.semantic_dedup)
# ---------------------------------------------------------------------------
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster SemDeDup summary: vectors assigned to max(8, n/64)
    deterministic centroid lists; a vector drops iff a lower-id
    cluster-mate has cosine ≥ 0.3. Output (list_id, n_vectors, n_dropped)
    — the oracle replays assignment AND the greedy drop rule, deriving the
    SAME k from count(*).

    k scales with n (the paper's own cost rule): SemDeDup's pair fan-out
    is Σ cluster² ≈ n²/k, so FIXED k is quadratic in corpus size — the 4×
    scale sweep showed 6.6× growth at k=32; k = n/64 pins mean cluster
    size at 64 and makes fan-out linear. The broadcast-literal assignment
    expression holds to k in the low thousands; past that, swap in a
    centroid-table join (same output).

    r12: the assignment comes from the committed embsig ``assign``
    member (bucketed by list_id, so the within-cluster pair self-join
    reads both sides pre-partitioned); the greedy drop rule
    (similarity.semantic_drops) runs from the snapshot. Output identical
    to the in-line semantic_dedup path (equivalence pytest-pinned)."""
    _, assigned = embedding_signature_probe(spark, sf_dir)
    dropped = similarity.semantic_drops(
        assigned, id_col="vec_id", vec_col="embedding", threshold_micro=300000
    )
    return (
        assigned.join(
            dropped.withColumn("_d", F.lit(1)).select("vec_id", "_d"),
            "vec_id",
            "left",
        )
        .groupBy(F.col("list_id").cast("long").alias("list_id"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.coalesce(F.col("_d"), F.lit(0))).cast("long").alias("n_dropped"),
        )
        .orderBy("list_id")
    )


SEMANTIC_DEDUP_EMBEDDINGS_SQL = f"""
WITH {_SQL_SEMDEDUP_LISTS}, dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE floor(list_cosine_similarity(a.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]) * 1e6 + 0.5) >= 300000
)
SELECT a.cid::BIGINT AS list_id, count(*)::BIGINT AS n_vectors,
       count(d.vec_id)::BIGINT AS n_dropped
FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
GROUP BY a.cid ORDER BY list_id
"""


QUERIES: dict = {
    "paragraph_dedup_docs": (paragraph_dedup_docs, PARAGRAPH_DEDUP_DOCS_SQL),
    "semantic_dedup_embeddings": (
        semantic_dedup_embeddings,
        SEMANTIC_DEDUP_EMBEDDINGS_SQL,
    ),
    "snapshot_diff_customers": (
        snapshot_diff_customers,
        SNAPSHOT_DIFF_CUSTOMERS_SQL,
    ),
    "scd2_customers": (scd2_customers, SCD2_CUSTOMERS_SQL),
    "dedup_exact_docs": (dedup_exact_docs, DEDUP_EXACT_DOCS_SQL),
    "dedup_jaccard_pairs_docs": (dedup_jaccard_pairs_docs, DEDUP_JACCARD_PAIRS_DOCS_SQL),
    "dedup_minhash_docs": (dedup_minhash_docs, DEDUP_MINHASH_DOCS_SQL),
    "dedup_incremental_docs": (dedup_incremental_docs, DEDUP_INCREMENTAL_DOCS_SQL),
    "dedup_simhash_docs": (dedup_simhash_docs, DEDUP_SIMHASH_DOCS_SQL),
    "dedup_simhash_pairs": (dedup_simhash_pairs, DEDUP_SIMHASH_PAIRS_SQL),
    "dedup_embedding_pairs": (dedup_embedding_pairs, DEDUP_EMBEDDING_PAIRS_SQL),
    "dedup_embedding_pairs_stress": (
        dedup_embedding_pairs_stress,
        DEDUP_EMBEDDING_PAIRS_STRESS_SQL,
    ),
    "embsig_base_build_embeddings": (
        embsig_base_build_embeddings,
        EMBSIG_BASE_BUILD_EMBEDDINGS_SQL,
    ),
    "simhash_base_build_docs": (
        simhash_base_build_docs,
        SIMHASH_BASE_BUILD_DOCS_SQL,
    ),
    "knn_cosine_topk": (knn_cosine_topk, KNN_COSINE_TOPK_SQL),
    "knn_lsh_pairs": (knn_lsh_pairs, KNN_LSH_PAIRS_SQL),
    "knn_ivf_exact_topk": (knn_ivf_exact_topk, KNN_COSINE_TOPK_SQL),
    "knn_ivf_topk": (knn_ivf_topk, KNN_IVF_TOPK_SQL),
    "text_quality_docs": (text_quality_docs, TEXT_QUALITY_DOCS_SQL),
    "lang_id_docs": (lang_id_docs, LANG_ID_DOCS_SQL),
    "token_count_docs": (token_count_docs, TOKEN_COUNT_DOCS_SQL),
    "fingerprint_docs": (fingerprint_docs, FINGERPRINT_DOCS_SQL),
    "tfidf_docs": (tfidf_docs, TFIDF_DOCS_SQL),
    "winnow_fingerprint_docs": (
        winnow_fingerprint_docs,
        WINNOW_FINGERPRINT_DOCS_SQL,
    ),
    "dedup_clusters_docs": (dedup_clusters_docs, DEDUP_CLUSTERS_DOCS_SQL),
    "sample_docs_hash": (sample_docs_hash, SAMPLE_DOCS_HASH_SQL),
    "cap_per_source_docs": (cap_per_source_docs, CAP_PER_SOURCE_DOCS_SQL),
    "normalize_text_docs": (normalize_text_docs, NORMALIZE_TEXT_DOCS_SQL),
    "mix_corpus_docs": (mix_corpus_docs, MIX_CORPUS_DOCS_SQL),
    "embedding_centroids_by_label": (
        embedding_centroids_by_label,
        EMBEDDING_CENTROIDS_BY_LABEL_SQL,
    ),
    "kmeans_centroids_embeddings": (
        kmeans_centroids_embeddings,
        KMEANS_CENTROIDS_EMBEDDINGS_SQL,
    ),
    "multimodal_metadata_docs": (
        multimodal_metadata_docs,
        MULTIMODAL_METADATA_DOCS_SQL,
    ),
    "skew_salted_agg_events": (skew_salted_agg_events, SKEW_SALTED_AGG_EVENTS_SQL),
    "chunk_docs": (chunk_docs, CHUNK_DOCS_SQL),
    "pii_scrub_docs": (pii_scrub_docs, PII_SCRUB_DOCS_SQL),
    "decontaminate_docs": (decontaminate_docs, DECONTAMINATE_DOCS_SQL),
    "asof_join_events_orders": (
        asof_join_events_orders,
        ASOF_JOIN_EVENTS_ORDERS_SQL,
    ),
    "range_join_event_pairs": (
        range_join_event_pairs,
        RANGE_JOIN_EVENT_PAIRS_SQL,
    ),
    "repetition_stats_docs": (repetition_stats_docs, REPETITION_STATS_DOCS_SQL),
    "quality_filter_docs": (quality_filter_docs, QUALITY_FILTER_DOCS_SQL),
    "ngram_topk_corpus": (ngram_topk_corpus, NGRAM_TOPK_CORPUS_SQL),
    "corpus_stats_by_lang": (corpus_stats_by_lang, CORPUS_STATS_BY_LANG_SQL),
    "pack_sequences_docs": (pack_sequences_docs, PACK_SEQUENCES_DOCS_SQL),
    "dup_ngram_fraction_docs": (
        dup_ngram_fraction_docs,
        DUP_NGRAM_FRACTION_DOCS_SQL,
    ),
    "inverted_index_terms": (inverted_index_terms, INVERTED_INDEX_TERMS_SQL),
    "split_docs_hash": (split_docs_hash, SPLIT_DOCS_HASH_SQL),
    "quantize_embeddings": (quantize_embeddings, QUANTIZE_EMBEDDINGS_SQL),
    "pagerank_supplier_graph": (
        pagerank_supplier_graph,
        PAGERANK_SUPPLIER_GRAPH_SQL,
    ),
    "covariance_embeddings": (covariance_embeddings, COVARIANCE_EMBEDDINGS_SQL),
    "gapfill_events_locf": (gapfill_events_locf, GAPFILL_EVENTS_LOCF_SQL),
    "zipf_slope_corpus": (zipf_slope_corpus, ZIPF_SLOPE_CORPUS_SQL),
    "fuzzy_match_parts": (fuzzy_match_parts, FUZZY_MATCH_PARTS_SQL),
    "skew_salted_join_events": (
        skew_salted_join_events,
        SKEW_SALTED_JOIN_EVENTS_SQL,
    ),
    "dq_checks_star_schema": (dq_checks_star_schema, DQ_CHECKS_STAR_SCHEMA_SQL),
    "s3_event_decode_docs": (s3_event_decode_docs, S3_EVENT_DECODE_DOCS_SQL),
}


# --------------------------------------------------------------------------
# Nightly incremental-dedup pipeline over the versioned table (round 7)
# --------------------------------------------------------------------------
def dedup_nightly_pipeline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION nightly-dedup composition the minhash_incremental
    docstring promises: the corpus minhash BAND INDEX and the corpus doc
    table both live as committed snapshots (tableformat.commit_version);
    tonight's batch is banded, candidate-joined against the STORED index
    (read_version — not the in-memory frame), exact-Jaccard verified, and
    the accepted (non-dup) docs are folded back in: corpus v1 and index v1
    are committed, and table_changes(v0→v1) yields the insert feed a
    downstream consumer (search indexer, replication sink) would read.

    Corpus = even doc_ids, batch = odd doc_ids (same split and portable
    md5 hash family as dedup_incremental_docs, so the oracle replays
    signature → banding → cross-side candidate join → verify in SQL).

    Output: one decision row per batch doc — (batch_id, is_dup,
    n_matches, best_corpus_id, best_est_jaccard) — plus the pipeline's
    audit constants (cdf_inserts from the change feed, index_rows_v0/v1).
    Scale shape: the stored index is the only corpus-sized artifact
    touched per night; corpus×corpus is never re-paired. Round 8: the
    index is committed BUCKETED by the packed band key
    (tableformat.commit_version_bucketed), so the index side of the
    nightly candidate join is exchange-free — plan-asserted in
    tests/test_plans.py — and only the night's batch (the small side)
    shuffles. At 100 TB that converts the nightly join's dominant cost
    from re-shuffling the whole index every night to a one-time
    write-side shuffle per commit.
    """
    from . import stores

    from . import tableformat

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    # r14: the signature derivations ride the COMMITTED shingle-base
    # snapshot (the dedup_minhash_docs/dedup_incremental_docs plumbing;
    # value-identical — array_min is order-free over the same set, the
    # verify is set arithmetic). corpus/batch stay full-width: the doc
    # COMMITS below are the scenario, only the shingle pass is stored.
    sstore, _fpos = dedup.shingle_base_probe(spark, sf_dir, k=3)
    sstore = sstore.select("id", F.col("sset").alias("shingles"))

    kwargs = dict(
        k=3, num_hash_tables=8, seed=42, hash_fn=_minhash_portable, band_r=2,
        prehash_fn=_minhash_prehash,
    )
    cbase, cbands = dedup._minhash_bands(
        None, "doc_id", "text",
        prebuilt_shingles=sstore.filter(F.col("id") % 2 == 0), **kwargs
    )
    bbase, bbands = dedup._minhash_bands(
        None, "doc_id", "text",
        prebuilt_shingles=sstore.filter(F.col("id") % 2 == 1), **kwargs
    )

    root = stores.scratch_dir("nightly_dedup_")
    # bkey packs (band, key) into ONE column — 'band:key' with ':' absent
    # from the comma-joined hash key, so the packing is collision-free and
    # joining on bkey alone is EXACTLY the (band, key) equi-join. A single
    # key is what the stored index is BUCKETED by (r8): the index commit
    # pays the join's shuffle once at write time, and every nightly join
    # after that reads the index exchange-free (plan-asserted in
    # tests/test_plans.py); only the night's batch shuffles.
    flat = lambda b: b.select(  # noqa: E731 — (id, band, key, bkey) rows
        "id",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
        F.concat_ws(":", F.col("bk.band").cast("string"), F.col("bk.key")).alias(
            "bkey"
        ),
    )
    # Night 0 bootstrap and every nightly pair commit go through ONE
    # transaction (tableformat.commit_atomic): a crash between the docs
    # flip and the index flip would otherwise leave a torn pair — new
    # docs invisible to tomorrow's candidate join (or vice versa). The
    # group pointer flip is the transaction; per-member time travel and
    # CDF keep working unchanged.
    v0 = tableformat.commit_atomic(
        root,
        {
            "docs": ("plain", corpus),
            "index": ("bucketed", flat(cbands), "bkey", 8),
        },
    )
    v0_docs, v0_idx = v0["docs"], v0["index"]

    stored_idx = tableformat.read_version(spark, root + "/index", v0_idx)
    cand = (
        stored_idx.alias("a")
        .join(flat(bbands).alias("b"), F.col("a.bkey") == F.col("b.bkey"))
        .select(F.col("a.id").alias("corpus_id"), F.col("b.id").alias("batch_id"))
        .dropDuplicates(["corpus_id", "batch_id"])
    )
    sa = cbase.select(F.col("id").alias("corpus_id"), F.col("shingles").alias("sh_a"))
    sb = bbase.select(F.col("id").alias("batch_id"), F.col("shingles").alias("sh_b"))
    _inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = _inter.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - _inter
    ).cast("double")  # union-free verify (r9), value-identical
    pairs = cut(  # feeds decisions AND the accept filter
        cand.join(sa, "corpus_id")
        .join(sb, "batch_id")
        .select("corpus_id", "batch_id", F.round(jac, 4).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.3)
    )

    from pyspark.sql import Window

    w = Window.partitionBy("batch_id").orderBy(
        F.col("est_jaccard").desc(), F.col("corpus_id").asc()
    )
    best = (
        pairs.withColumn("rn", F.row_number().over(w))
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.max(F.when(F.col("rn") == 1, F.col("corpus_id"))).alias(
                "best_corpus_id"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("est_jaccard"))).alias(
                "best_est_jaccard"
            ),
        )
    )
    decisions = (
        batch.select(F.col("doc_id").alias("batch_id"))
        .join(best, "batch_id", "left")
        .select(
            "batch_id",
            F.coalesce(F.col("n_matches") >= 1, F.lit(False)).alias("is_dup"),
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            "best_corpus_id",
            "best_est_jaccard",
        )
    )

    accepted_ids = decisions.filter(~F.col("is_dup")).select(
        F.col("batch_id").alias("doc_id")
    )
    accepted_bands = flat(bbands).join(
        accepted_ids.withColumnRenamed("doc_id", "id"), "id", "left_semi"
    )
    # tonight's docs + index land as ONE transaction; the index stays
    # bucketed so every nightly join keeps the exchange-free property
    v1 = tableformat.commit_atomic(
        root,
        {
            "docs": (
                "plain",
                tableformat.read_version(spark, root + "/docs", v0_docs)
                .unionByName(batch.join(accepted_ids, "doc_id", "left_semi")),
            ),
            "index": (
                "bucketed",
                stored_idx.unionByName(accepted_bands),
                "bkey",
                8,
            ),
        },
    )
    v1_docs = v1["docs"]

    cdf = tableformat.table_changes(
        spark, root + "/docs", v0_docs, v1_docs, key_cols=["doc_id"]
    )
    audit = (
        cdf.agg(
            F.sum((F.col("change_type") == "insert").cast("long")).alias(
                "cdf_inserts"
            )
        )
        .crossJoin(
            tableformat.read_version(spark, root + "/index", 0)
            .agg(F.count(F.lit(1)).alias("index_rows_v0"))
        )
        .crossJoin(
            tableformat.read_version(spark, root + "/index", 1)
            .agg(F.count(F.lit(1)).alias("index_rows_v1"))
        )
    )
    return decisions.crossJoin(audit).orderBy("batch_id")


# CTE replay of the whole nightly pipeline: the versioned-table mechanics
# (commit/read/table_changes) are Spark-side storage plumbing; the ORACLE
# replays their observable algebra — the candidate join against the v0
# index contents, the accept filter, the insert feed count, and both index
# cardinalities.
DEDUP_NIGHTLY_PIPELINE_DOCS_SQL = _minhash_oracle_sql(_MINHASH_CROSS, f""", pairs AS (
  {_minhash_verify_sql(_MINHASH_CROSS, "0.3")}
), ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY batch_id
           ORDER BY est_jaccard DESC, corpus_id ASC) AS rn
  FROM pairs
), best AS (
  SELECT batch_id,
         count(*)::BIGINT AS n_matches,
         max(CASE WHEN rn = 1 THEN corpus_id END) AS best_corpus_id,
         max(CASE WHEN rn = 1 THEN est_jaccard END) AS best_est_jaccard
  FROM ranked GROUP BY batch_id
), decisions AS (
  SELECT d.doc_id AS batch_id,
         coalesce(b.n_matches >= 1, false) AS is_dup,
         coalesce(b.n_matches, 0)::BIGINT AS n_matches,
         b.best_corpus_id,
         b.best_est_jaccard
  FROM documents d LEFT JOIN best b ON b.batch_id = d.doc_id
  WHERE d.doc_id % 2 = 1
), audit AS (
  SELECT (SELECT count(*) FROM decisions WHERE NOT is_dup)::BIGINT
             AS cdf_inserts,
         (SELECT count(*) FROM bands WHERE id % 2 = 0)::BIGINT
             AS index_rows_v0,
         ((SELECT count(*) FROM bands WHERE id % 2 = 0)
          + (SELECT count(*)
             FROM bands JOIN decisions ON bands.id = decisions.batch_id
             WHERE NOT decisions.is_dup))::BIGINT AS index_rows_v1
)
SELECT decisions.*, audit.* FROM decisions, audit
ORDER BY batch_id
""")

QUERIES["dedup_nightly_pipeline_docs"] = (
    dedup_nightly_pipeline_docs,
    DEDUP_NIGHTLY_PIPELINE_DOCS_SQL,
)


# --------------------------------------------------------------------------
# MinHash banding recall QC (round 7)
# --------------------------------------------------------------------------
_MINHASH_THEORY_HIT_MICRO = int(1e6 * (1.0 - (1.0 - 0.3**2) ** 4))  # 314250


def minhash_band_recall_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall of the (8 tables, r=2) minhash banding against the
    exact blocked-Jaccard ground truth at threshold 0.3 — the disclosure
    operator for the approximate dedup tier (companion to
    dedup_embedding_recall on the ANN side, but sub-quadratic on BOTH
    sides, so it stays benchable: truth is the AllPairs prefix-filtered
    join, found is the banded minhash join).

    Ground truth is the BLOCKED exact pair set (lang × length-bucket,
    dedup_jaccard_pairs_docs' universe); minhash is unblocked, so
    cross-block finds are excluded by the semi join — recall is measured
    against the blocked universe and stated as such. theory_hit_micro is
    the textbook S-curve value at the threshold, 1−(1−s^r)^b at s=0.3:
    the measured recall should beat it because most true pairs sit well
    above the threshold."""

    # r11: BOTH sides of the recall measurement — the exact AllPairs
    # truth and the banded minhash find — now probe the COMMITTED
    # shingle-base snapshot (dedup.shingle_base_store): the truth side
    # reads the stored frequency-ordered prefix stream (the r8 fusion's
    # ~4s of in-line freq-agg + reorder internals are paid once per
    # corpus by shingle_base_build_docs), and the minhash side consumes
    # the stored sets directly — minhash over the sorted-distinct sset
    # equals minhash over raw shingles (min of hashed values is
    # order-free and idempotent under distinct), so the recall VALUE is
    # unchanged (same oracle, same n_true/n_found/n_hit).
    base, fpos = dedup.shingle_base_probe(spark, sf_dir, k=3)
    truth = dedup._allpairs_jaccard_verify(
        dedup.stored_prefix(fpos, 0.3),
        base.select("id", "sset"),
        threshold=0.3,
        block_keys=("lang", "bucket"),
    ).select("id_a", "id_b")

    found = dedup.minhash_near_dup(
        None, id_col="doc_id", text_col="text", k=3,
        jaccard_distance_threshold=0.7, hash_fn=_minhash_portable, band_r=2,
        prehash_fn=_minhash_prehash,
        prebuilt_shingles=base.select("id", F.col("sset").alias("shingles")),
    ).select("id_a", "id_b")
    truth = cut(truth, eager=False)  # feeds n_true AND the hit join
    hits = truth.join(found, ["id_a", "id_b"], "left_semi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
        .crossJoin(found.agg(F.count(F.lit(1)).alias("n_found_pairs")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit_pairs")))
        .select(
            "n_true_pairs",
            "n_found_pairs",
            "n_hit_pairs",
            F.expr(
                "CASE WHEN n_true_pairs = 0 THEN 1000000"
                " ELSE (n_hit_pairs * 1000000) div n_true_pairs END"
            ).alias("recall_micro"),
            F.lit(_MINHASH_THEORY_HIT_MICRO).cast("long").alias(
                "theory_hit_micro"
            ),
        )
    )


MINHASH_BAND_RECALL_DOCS_SQL = _minhash_oracle_sql(_MINHASH_PAIRS, f""", found AS (
  {_minhash_verify_sql(_MINHASH_PAIRS, "0.3", "cand.id_a, cand.id_b")}
), hit AS (
  SELECT t.id_a, t.id_b FROM truth t
  JOIN found f ON f.id_a = t.id_a AND f.id_b = t.id_b
)
SELECT (SELECT count(*) FROM truth)::BIGINT AS n_true_pairs,
       (SELECT count(*) FROM found)::BIGINT AS n_found_pairs,
       (SELECT count(*) FROM hit)::BIGINT AS n_hit_pairs,
       (CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 1000000
             ELSE ((SELECT count(*) FROM hit) * 1000000)
                  // (SELECT count(*) FROM truth) END)::BIGINT
           AS recall_micro,
       {_MINHASH_THEORY_HIT_MICRO}::BIGINT AS theory_hit_micro
""", blocked=True, truth=f""", truth AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM base a JOIN base b
    ON a.lang IS NOT DISTINCT FROM b.lang AND a.bucket IS NOT DISTINCT FROM b.bucket AND a.id < b.id
  WHERE {_sql_jaccard()}
        >= 0.3
)""")

QUERIES["minhash_band_recall_docs"] = (
    minhash_band_recall_docs,
    MINHASH_BAND_RECALL_DOCS_SQL,
)


# --------------------------------------------------------------------------
# Retrieval rank-quality QC: NDCG / MRR of the approximate retriever (r8)
# --------------------------------------------------------------------------
def ndcg_ivf_retrieval_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-quality QC of the IVF retriever against the exact cosine
    ranking — recall says WHETHER the true neighbors were found, NDCG/MRR
    say WHERE the retriever put them (a retriever that returns the right
    set in the wrong order degrades downstream rerankers and RAG context
    packing). Per query (the knn_* fixture, vec_id < 5):

    - hits10: |approx top-10 ∩ exact top-10|
    - rr_micro: 1e6 div (rank of the first exact-relevant item) — MRR's
      per-query term
    - ndcg_micro: rational-discount NDCG@10 in exact integer micros —
      gain(i) = 11 − exact_rank(i) for items in the exact top-10 (graded
      relevance from the exact ranking), discount 1/(rank+1) instead of
      1/log2(rank+1). The rational discount keeps every term an integer
      division both engines compute bit-identically (log2 would hang the
      hash gate on libm last-ulp differences); it is a documented, order-
      aware member of the same discount family.

    Both the approximate ranking (deterministic IVF, n_probe=2) and the
    exact ranking replay fully in SQL, so the METRIC — not just the
    retrieval — is value-checked end to end.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    # r14: eager cut at the exact top-k (≤50 rows) — it feeds TWO
    # subtrees (rel for the join, idcg for the ideal gain), and each
    # would otherwise replay the corpus×queries cosine ranking
    exact = cut(similarity.cosine_topk(emb, queries, k=10))
    cents = similarity.ivf_centroids_from_sample(emb, n_lists=8)
    approx = similarity.ivf_topk(emb, queries, cents, k=10, n_probe=2)
    rel = exact.select(
        "query_id",
        "neighbor_id",
        (F.lit(11) - F.col("rank")).cast("long").alias("gain"),
    )
    j = approx.join(rel, ["query_id", "neighbor_id"], "left").withColumn(
        "gain", F.coalesce("gain", F.lit(0))
    )
    per = j.groupBy("query_id").agg(
        F.sum(F.expr("(1000000 * gain) div (rank + 1)"))
        .cast("long")
        .alias("dcg_micro"),
        F.count(F.when(F.col("gain") > 0, 1)).cast("long").alias("hits10"),
        F.min(F.when(F.col("gain") > 0, F.col("rank"))).alias("_minr"),
    )
    idcg = exact.groupBy("query_id").agg(
        F.sum(F.expr("(1000000 * (11 - rank)) div (rank + 1)"))
        .cast("long")
        .alias("idcg_micro")
    )
    return (
        per.join(idcg, "query_id")
        .select(
            "query_id",
            "hits10",
            F.coalesce(F.expr("1000000 div _minr"), F.lit(0))
            .cast("long")
            .alias("rr_micro"),
            F.expr("(1000000 * dcg_micro) div idcg_micro")
            .cast("long")
            .alias("ndcg_micro"),
        )
        .orderBy("query_id")
    )


NDCG_IVF_RETRIEVAL_QC_SQL = f"""
WITH approx AS ({KNN_IVF_TOPK_SQL}),
exact AS ({KNN_COSINE_TOPK_SQL}),
rel AS (
  SELECT query_id, neighbor_id, (11 - rank)::BIGINT AS gain FROM exact
),
j AS (
  SELECT a.query_id, a.rank, coalesce(r.gain, 0) AS gain
  FROM approx a
  LEFT JOIN rel r
    ON r.query_id = a.query_id AND r.neighbor_id = a.neighbor_id
),
per AS (
  SELECT query_id,
         sum((1000000 * gain) // (rank + 1))::BIGINT AS dcg_micro,
         sum(CASE WHEN gain > 0 THEN 1 ELSE 0 END)::BIGINT AS hits10,
         min(CASE WHEN gain > 0 THEN rank END) AS minr
  FROM j GROUP BY 1
),
idcg AS (
  SELECT query_id,
         sum((1000000 * (11 - rank)) // (rank + 1))::BIGINT AS idcg_micro
  FROM exact GROUP BY 1
)
SELECT p.query_id, p.hits10,
       coalesce(1000000 // p.minr, 0)::BIGINT AS rr_micro,
       ((1000000 * p.dcg_micro) // i.idcg_micro)::BIGINT AS ndcg_micro
FROM per p JOIN idcg i USING (query_id)
ORDER BY p.query_id
"""

QUERIES["ndcg_ivf_retrieval_qc"] = (
    ndcg_ivf_retrieval_qc,
    NDCG_IVF_RETRIEVAL_QC_SQL,
)


# --------------------------------------------------------------------------
# Containment (asymmetric) near-dup pairs (r8): quote-inclusion detection
# --------------------------------------------------------------------------
def dedup_containment_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL near-dup pairs by shingle CONTAINMENT
    C(A→B) = |A ∩ B| / |A| ≥ 0.6 within language blocks — the dedup
    relation Jaccard misses: a short document quoted inside a long one has
    high containment but low Jaccard (the union is dominated by the long
    side), which is exactly the "document embedded in another" case
    corpus dedup (Broder's resemblance vs containment distinction,
    SEQUENCES'97) needs a separate operator for.

    Lossless pruning, adapted from AllPairs for the asymmetric threshold:
    overlap ≥ t·|A| bounds only the CONTAINED side, so A explodes its
    frequency-ascending PREFIX (|A| − ⌈t·|A|⌉ + 1 rarest shingles — any
    qualifying pair must share one) and joins against the FULL inverted
    index of the block (B has no prefix bound: a superset can hide A's
    rare shingles anywhere). Rarest-first ordering keeps the candidate
    join collision-bound by rare-shingle document frequency. No length
    filter applies (|B| is unbounded above by design — that asymmetry IS
    the operator). Verify rejoins shingle sets by id and checks the exact
    integer-ratio threshold (10·inter ≥ 6·|A| — no float division in the
    gate).

    Output: (id_a, id_b, containment_micro) for id_a ≠ id_b, BOTH
    directions possible, containment in exact integer micros.
    """
    t_num, t_den = 6, 10  # threshold 0.6 as an exact rational
    # r11: both sides of the candidate join come from the committed
    # shingle-base snapshot (dedup.shingle_base_store) — the stored fpos
    # stream IS the full frequency-ordered inverted index (unfiltered),
    # and its threshold-filtered prefix is exactly what
    # frequency_ordered_prefix(0.6) emitted before. The containment
    # block is lang alone (a short doc quoted in a much longer one sits
    # in a DIFFERENT length bucket by construction — bucket equality
    # would define the operator away), so the stored bucket column is
    # simply ignored here. The corpus is tokenized/df-ordered once per
    # corpus by shingle_base_build_docs instead of once per report.
    #
    # r9 (unchanged): the PPJoin positional filter, asymmetric form —
    # overlap reachable from A's element at 1-based position p is
    # ≤ 1 + |A| − p (all common elements sit at positions ≥ p in A's
    # frequency order), and containment ≥ t needs overlap ≥ t·|A|, so a
    # match with t_den·(1 + n − p) < t_num·n cannot witness a true pair.
    # A's FIRST common element always survives (every common element is
    # at a later position), so the filter is lossless; the gate is exact
    # integer arithmetic, like the verify.
    #
    # r12: the SAME positional bound applied to the B side (PPJoin's
    # two-sided form, Xiao et al. WWW'08): common elements share ONE
    # global frequency order, so they sit at positions ≥ p_b in B too
    # and overlap ≤ 1 + n_b − p_b; a match with
    # t_den·(1 + n_b − p_b) < t_num·n_a cannot witness a true pair, and
    # the pair's FIRST common element (first in BOTH documents' shared
    # order) always passes both gates — lossless, and it prunes the
    # candidate stream 178k → 119k at sf0.1 (output bit-identical,
    # 3-SF oracle re-verified).
    base, fpos = dedup.shingle_base_probe(spark, sf_dir, k=3)
    pref = dedup.stored_prefix(fpos, t_num / t_den).select(
        "id", F.col("lang").alias("block"), "n", "p", "s"
    )
    inv = fpos.select(
        "id", F.col("lang").alias("block"),
        F.col("n").alias("nb"), F.col("p").alias("pb"), "s",
    )
    cand = (
        pref.alias("pa")
        .join(
            inv.alias("ib"),
            # eqNullSafe: parity with the former struct-equality lang
            # block (NULL-lang docs share a block) — r11 review finding
            F.col("pa.block").eqNullSafe(F.col("ib.block"))
            & (F.col("pa.s") == F.col("ib.s"))
            & (F.col("pa.id") != F.col("ib.id"))
            & (
                F.lit(t_den) * (F.lit(1) + F.col("pa.n") - F.col("pa.p"))
                >= F.lit(t_num) * F.col("pa.n")
            )
            & (
                F.lit(t_den) * (F.lit(1) + F.col("ib.nb") - F.col("ib.pb"))
                >= F.lit(t_num) * F.col("pa.n")
            ),
        )
        .select(F.col("pa.id").alias("id_a"), F.col("ib.id").alias("id_b"))
        .distinct()
    )
    sa = base.select(F.col("id").alias("id_a"), F.col("sset").alias("sh_a"))
    sb = base.select(F.col("id").alias("id_b"), F.col("sset").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("long")
    na = F.size("sh_a").cast("long")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(inter * t_den >= na * t_num)
        .select(
            "id_a",
            "id_b",
            F.expr("(1000000 * size(array_intersect(sh_a, sh_b)))"
                   " div size(sh_a)")
            .cast("long")
            .alias("containment_micro"),
        )
        .orderBy("id_a", "id_b")
    )


DEDUP_CONTAINMENT_PAIRS_DOCS_SQL = f"""
WITH base AS (
  SELECT doc_id AS id, lang AS block,
         list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 0)),
           i -> array_to_string(list_slice(toks, i, i + 2), ' ')
         )) AS sset
  FROM (SELECT doc_id, lang, {_SQL_TOKENS.format(c='text')} AS toks
        FROM documents)
  WHERE len(toks) >= 3
)
SELECT a.id AS id_a, b.id AS id_b,
       ((1000000 * len(list_intersect(a.sset, b.sset)))
        // len(a.sset))::BIGINT AS containment_micro
FROM base a JOIN base b ON a.block IS NOT DISTINCT FROM b.block AND a.id <> b.id
WHERE 10 * len(list_intersect(a.sset, b.sset)) >= 6 * len(a.sset)
ORDER BY id_a, id_b
"""

QUERIES["dedup_containment_pairs_docs"] = (
    dedup_containment_pairs_docs,
    DEDUP_CONTAINMENT_PAIRS_DOCS_SQL,
)


# --------------------------------------------------------------------------
# IVF with actually-trained (k-means) lists (r8)
# --------------------------------------------------------------------------
def knn_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat whose inverted lists come from the REAL k-means training
    loop (similarity.kmeans_centroid_list: 2 Lloyd rounds, k=4, 6 dp
    rounding between rounds) instead of the lowest-id seed stand-in
    knn_ivf_topk documents — the full production composition: train →
    assign → probe → list-restricted exact cosine. The entire pipeline is
    engine-replayable because the training loop itself is (the 6 dp
    inter-round rounding makes both engines iterate on identical
    doubles, the property kmeans_centroids_embeddings pins); the oracle
    unrolls both Lloyd rounds AND the probe/scoring in one SQL. Trained
    lists change which lists get probed — recall on clustered data rises
    for the same n_probe, which is the reason FAISS trains lists at all."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = similarity.kmeans_centroid_list(
        emb, vec_col="embedding", k=4, n_iter=2, id_col="vec_id"
    )
    return similarity.ivf_topk(emb, queries, cents, k=10, n_probe=2).orderBy(
        "query_id", "rank"
    )


# The training CTE chain (2 Lloyd rounds, k=4) through corpus_assign;
# knn_ivf_index_build_embeddings certifies the same chain.
_KNN_IVF_TRAIN_CTES = f"""
WITH {_sql_lloyd_ctes(4, 2)}, {_sql_ivf_corpus_assign("c2l")}"""
KNN_IVF_KMEANS_TOPK_SQL = f"""{_KNN_IVF_TRAIN_CTES}, {_sql_ivf_probe_topk("c2l")}
"""

QUERIES["knn_ivf_kmeans_topk"] = (knn_ivf_kmeans_topk, KNN_IVF_KMEANS_TOPK_SQL)


def knn_ivf_index_store(
    spark: SparkSession,
    sf_dir: str,
    force: bool = False,
    k: int = 4,
    n_iter: int = 2,
) -> str:
    """Build-once/probe-everywhere IVF-Flat index store (r13, the same
    conversion as pq_ivf_index_store): one atomic transaction commits
    the k-means-assigned vector lists BUCKETED by list_id plus the
    trained centroids. Until r13 knn_ivf_stored_probe re-trained and
    re-committed both into per-call scratch on every invocation, so
    each bench rep billed the whole nightly build to the 'probe'. The
    ``stores.open_store`` root is keyed on (k, n_iter) — probe-time
    knobs (n_probe, query set) deliberately NOT in the key (see
    stores.py). The registered build query passes force=True so the
    bench bills the train/assign/commit honestly."""
    from . import stores, tableformat

    def _build(r):
        emb = load_table(spark, sf_dir, "embeddings")
        cents = similarity.kmeans_centroid_list(
            emb, vec_col="embedding", k=k, n_iter=n_iter, id_col="vec_id"
        )
        lists = similarity.ivf_assign(
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("cv"),
            ),
            cents,
            vec_col="cv",
            n_probe=1,
        )
        cents_df = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
            "list_id int, cv array<double>",
        )
        tableformat.commit_atomic(
            r,
            {
                "lists": ("bucketed", lists, "list_id", k),
                "centroids": ("plain", cents_df),
            },
        )

    return stores.open_store(
        spark, "knnivf", sf_dir, "embeddings", (k, n_iter), _build,
        force=force,
    )


def knn_ivf_stored_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search against a PERSISTED index — the production 100 TB shape
    (r9, per the r8 verdict): train k-means lists ONCE
    (knn_ivf_index_store — built once per corpus, billed by
    knn_ivf_index_build_embeddings), then serve every probe from the
    STORED tables with zero retraining on the query path:

    - centroids load from the committed ``centroids`` member (a k×dim
      metadata-scale read), never from the training frame;
    - the probed list ids are resolved driver-side (n_queries × n_probe
      ints) and pushed into the stored ``lists`` scan as an IN filter on
      the bucket column, so Spark prunes whole buckets —
      ``SelectedBucketsCount: 3 out of 4`` here, plan-asserted in
      tests/test_plans.py. At 100 TB the probe cost is |probed lists|,
      not |corpus|, and the expensive artifacts (assignment shuffle,
      bucket layout) were paid once at index-build time.

    Values are EXACTLY knn_ivf_kmeans_topk's semantics (same training,
    same probe ranking, same exact-cosine scoring) restricted to 2 query
    vectors, so the oracle is the same unrolled two-Lloyd-round SQL."""
    from . import tableformat

    emb = load_table(spark, sf_dir, "embeddings")
    root = knn_ivf_index_store(spark, sf_dir)
    # ---- probe phase: stored snapshots only, no retraining ----
    stored_cents = tableformat.read_atomic(spark, root, "centroids")
    cent_list = [
        [float(x) for x in r["cv"]]
        for r in stored_cents.orderBy("list_id").collect()
    ]
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    q = similarity.ivf_assign(queries, cent_list, vec_col="qv", n_probe=2)
    probed = sorted(
        r["list_id"] for r in q.select("list_id").distinct().collect()
    )
    stored = tableformat.read_atomic(spark, root, "lists").filter(
        F.col("list_id").isin(probed)
    )
    from pyspark.sql import Window as W

    from ..functions.vector_functions import cosine_similarity

    sim = F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6)
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        stored.join(F.broadcast(q), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


# Same trained-IVF semantics as knn_ivf_kmeans_topk, restricted to the
# 2-query probe set; assert the substitution target exists so a reworded
# base oracle can't silently desynchronize the pair.
assert KNN_IVF_KMEANS_TOPK_SQL.count("q.vec_id < 5") == 1
KNN_IVF_STORED_PROBE_SQL = KNN_IVF_KMEANS_TOPK_SQL.replace(
    "q.vec_id < 5", "q.vec_id < 2"
)


def knn_ivf_index_build_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILD phase of the stored IVF-Flat index (knn_ivf_index_store):
    two k-means Lloyd rounds, the corpus list assignment, and the atomic
    2-member commit run ONCE over the corpus. ``force=True`` so the bench
    bills the nightly build here — knn_ivf_stored_probe then pays stored
    reads only (r13, the same honest-billing split as
    pq_ivf_index_build_embeddings).

    Returns a certification summary READ BACK FROM THE COMMITTED
    MEMBERS: per list over ``lists`` (row count, Σ neighbor_id, and an
    order-free micro-int sum over every stored vector component) and per
    list over ``centroids`` (dim count, micro-int component sum) — the
    oracle replays seed→two-Lloyd-rounds→assignment in DuckDB, so a
    hash match certifies the committed artifacts, not a transient
    recompute."""
    from . import tableformat

    root = knn_ivf_index_store(spark, sf_dir, force=True)
    lists = tableformat.read_atomic(spark, root, "lists")
    cents = tableformat.read_atomic(spark, root, "centroids")
    vec_micro_sum = F.expr(
        "aggregate(transform(cv, x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)),"
        " 0L, (a, v) -> a + v)"
    )
    lists_cert = (
        lists.groupBy(F.col("list_id").cast("long").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("neighbor_id").cast("long").alias("chk1"),
            F.sum(vec_micro_sum).cast("long").alias("chk2"),
        )
        .select(F.lit("lists").alias("member"), "grp", "n_rows", "chk1", "chk2")
    )
    cents_cert = cents.select(
        F.lit("centroids").alias("member"),
        F.col("list_id").cast("long").alias("grp"),
        F.size("cv").cast("long").alias("n_rows"),
        vec_micro_sum.alias("chk1"),
        F.lit(0).cast("long").alias("chk2"),
    )
    return lists_cert.unionByName(cents_cert).orderBy("member", "grp")


# The oracle replays the training CTE chain of KNN_IVF_KMEANS_TOPK_SQL
# up through corpus_assign, then certifies the members.
KNN_IVF_INDEX_BUILD_SQL = f"""
{_KNN_IVF_TRAIN_CTES}
SELECT * FROM (
  SELECT 'lists' AS member, cid::BIGINT AS grp,
         count(*)::BIGINT AS n_rows,
         sum(neighbor_id)::BIGINT AS chk1,
         sum(list_sum(list_transform(cv2::DOUBLE[],
                                     x -> floor(x * 1e6 + 0.5))))::BIGINT
           AS chk2
  FROM corpus_assign
  GROUP BY cid
  UNION ALL
  SELECT 'centroids', cid::BIGINT, len(cv)::BIGINT,
         list_sum(list_transform(cv::DOUBLE[],
                                 x -> floor(x * 1e6 + 0.5)))::BIGINT,
         0::BIGINT
  FROM c2l
) ORDER BY member, grp
"""

QUERIES["knn_ivf_index_build_embeddings"] = (
    knn_ivf_index_build_embeddings,
    KNN_IVF_INDEX_BUILD_SQL,
)
QUERIES["knn_ivf_stored_probe"] = (knn_ivf_stored_probe, KNN_IVF_STORED_PROBE_SQL)


def minhash_band_precision_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-volume efficiency of the (8 tables, r=2) minhash banding
    — the PRECISION side of the disclosure pair (minhash_band_recall_docs
    measures what the banding finds; this measures what it WASTES):
    distinct band-collision candidate pairs, pairs surviving the exact
    Jaccard ≥ 0.3 verify, and their ratio in exact micros. Low precision
    means the verify stage — the only per-candidate cost — burns compute
    on junk collisions; it is the number that justifies band_r tuning
    (r=1 floods this by ~100× on repetitive corpora, per the
    minhash_near_dup docstring). The banding replays fully in SQL.

    r14: shingles come from the COMMITTED shingle-base snapshot via the
    prebuilt_shingles seam (the dedup_minhash_docs plumbing; minhash over
    the stored sorted-distinct sset is value-identical — array_min is
    order-free over the same set, the verify is set arithmetic)."""

    sbase, _fpos = dedup.shingle_base_probe(spark, sf_dir, k=3)

    base, exploded = dedup._minhash_bands(
        None, "doc_id", "text", k=3, num_hash_tables=8, seed=42,
        hash_fn=_minhash_portable, band_r=2, prehash_fn=_minhash_prehash,
        prebuilt_shingles=sbase.select("id", F.col("sset").alias("shingles")),
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    cand = cut(
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"]),
        eager=False,  # feeds the count AND the verify
    )
    sa = base.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = base.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    # |A ∪ B| = |A| + |B| − |A ∩ B| (shingles are distinct by
    # construction) — the r9 union-free verify, value-identical
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = inter.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - inter
    ).cast("double")
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.round(jac, 4) >= 0.3)
    )
    return (
        cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        .crossJoin(
            verified.agg(F.count(F.lit(1)).cast("long").alias("n_verified"))
        )
        .select(
            "n_candidates",
            "n_verified",
            F.expr(
                "CASE WHEN n_candidates = 0 THEN 1000000"
                " ELSE (1000000 * n_verified) div n_candidates END"
            )
            .cast("long")
            .alias("precision_micro"),
        )
    )


MINHASH_BAND_PRECISION_DOCS_SQL = _minhash_oracle_sql(_MINHASH_PAIRS, f""", verified AS (
  {_minhash_verify_sql(_MINHASH_PAIRS, "0.3", "cand.id_a")}
)
SELECT (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
       (SELECT count(*) FROM verified)::BIGINT AS n_verified,
       (CASE WHEN (SELECT count(*) FROM cand) = 0 THEN 1000000
             ELSE ((SELECT count(*) FROM verified) * 1000000)
                  // (SELECT count(*) FROM cand) END)::BIGINT
           AS precision_micro
""")

QUERIES["minhash_band_precision_docs"] = (
    minhash_band_precision_docs,
    MINHASH_BAND_PRECISION_DOCS_SQL,
)
