"""Text-analysis operators over document tables (SURVEY.md §2.5).

Language-ID (stopword n-gram heuristic), quality scoring (length / punct /
stopword ratios), token counting (whitespace + BPE-ish regex), and document
fingerprinting. All pure column expressions — narrow transforms that fuse
into the scan stage; nothing here shuffles except explicit aggregations.

Each operator has an exact ANSI-SQL twin in operators/registry.py (the
DuckDB oracle); keep them in sync.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import bpe_ish_tokens, md5_hash60, stopword_hits, tokens, word_shingles
from ..session import cut

#: PII patterns — dialect-portable (identical semantics in Java regex and
#: RE2/DuckDB: no lookaround, no backrefs), kept in lockstep with the
#: oracle SQL in operators/registry.py.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
PII_PHONE = r"\+\d \d{3}-\d{3}-\d{4}"

#: Tiny deterministic stopword profiles (public common-word lists). The
#: heuristic is profile-hit argmax — standard n-gram/stopword language ID
#: in its simplest checkable form.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "los", "por"],
    "fr": ["le", "la", "de", "et", "un", "une", "les", "des", "est", "dans"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "den"],
}


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Predict language by stopword-profile argmax; 'und' (undetermined)
    when no profile hits. Ties break by profile order (en, es, fr, de)."""
    toks = tokens(F.col(text_col))
    hits = {lang: stopword_hits(toks, words) for lang, words in LANG_PROFILES.items()}
    best = F.greatest(*hits.values())
    pred = F.lit("und")
    # reversed so earlier profiles win ties (last when() wins in a chain
    # evaluated first — build from lowest priority up)
    for lang in reversed(list(LANG_PROFILES)):
        pred = F.when((best > 0) & (hits[lang] == best), F.lit(lang)).otherwise(pred)
    return df.select(F.col(id_col), pred.alias("pred_lang"))


def text_quality(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Quality-scoring features: token/char counts, mean token length,
    punctuation ratio, stopword ratio, alpha ratio — the standard cheap
    heuristics an LLM-corpus filter thresholds on."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tokens = F.size(toks)
    n_chars = F.length(t)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    sw = stopword_hits(toks, LANG_PROFILES["en"])
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_computed"),
        F.round(n_chars / F.greatest(n_tokens, F.lit(1)), 4).alias("avg_token_len"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4).alias("punct_ratio"),
        F.round(n_alpha / F.greatest(n_chars, F.lit(1)), 4).alias("alpha_ratio"),
        F.round(sw / F.greatest(n_tokens, F.lit(1)), 4).alias("stopword_ratio"),
    )


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token counts under both tokenizers (whitespace and BPE-ish regex)."""
    return df.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).alias("n_ws_tokens"),
        F.size(bpe_ish_tokens(F.col(text_col))).alias("n_bpe_tokens"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprints: full-content md5 plus a 60-bit integer hash
    (cheap join/partition key for dedup pipelines)."""
    return df.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("fingerprint"),
        md5_hash60(F.col(text_col)).alias("fingerprint60"),
    )


def normalize(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Canonical text normalization (the pre-dedup cleanup pass): lowercase,
    strip everything but ``[a-z0-9 ]``, collapse whitespace runs, trim.
    Pure codegen'd JVM expressions; DuckDB twin uses the same two
    regex_replace steps with the 'g' flag.
    """
    c = F.lower(F.col(text_col))
    c = F.regexp_replace(c, r"[^a-z0-9 ]", " ")
    c = F.trim(F.regexp_replace(c, r" +", " "))
    return df.select(F.col(id_col), c.alias("norm_text"))


def chunk_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping fixed-size token chunks — the pre-training windowing pass
    (context packing / RAG chunking). ``stride < size`` gives ``size -
    stride`` tokens of overlap between consecutive chunks; the tail chunk
    may be shorter.

    Shape: tokenize (narrow) → explode the chunk-start sequence → slice per
    start. One explode, zero shuffles, zero UDFs — chunking 100 TB is a pure
    map stage whose output partitioning follows the input. Chunk text is
    emitted as md5 so downstream compares/dedup move 16-byte digests, not
    chunk bodies.

    Output: (id, chunk_start [1-based token index], n_chunk_tokens,
    chunk_md5).
    """
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") > 0)
    ex = base.select(
        F.col(id_col),
        F.col("toks"),
        F.explode(
            F.sequence(F.lit(1), F.size("toks"), F.lit(stride))
        ).alias("chunk_start"),
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_start"), F.lit(size))
    return ex.select(
        F.col(id_col),
        F.col("chunk_start"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII redaction pass: emails / IPv4s / phone numbers replaced by typed
    placeholder tokens, with per-document match counts (the audit metric a
    scrubbing job reports). Pure JVM regex expressions — a narrow map stage
    at any scale.

    Scrub order matters and is pinned: emails first (their domains would
    otherwise be visible to the IP pattern's digit-dot runs), then IPs,
    then phones. Output: (id, n_emails, n_ips, n_phones, scrub_md5) — the
    scrubbed body is emitted as md5 to keep compares compact.
    """
    t = F.col(text_col)
    scrubbed = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    scrubbed = F.regexp_replace(scrubbed, PII_IPV4, "<IP>")
    scrubbed = F.regexp_replace(scrubbed, PII_PHONE, "<PHONE>")
    return df.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IPV4)).alias("n_ips"),
        F.regexp_count(t, F.lit(PII_PHONE)).alias("n_phones"),
        F.md5(scrubbed).alias("scrub_md5"),
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, top_n: int = 3
) -> DataFrame:
    """Per-document top-N terms by TF-IDF — the corpus-analysis staple
    (keyword extraction / vocabulary pruning).

    tf = in-document term count; idf = ln((N+1)/(df+1)) with df = number of
    documents containing the term and N = corpus size (the smoothed form, so
    ubiquitous terms score ~0 instead of dividing by zero).

    Scale shape: explode → (doc, term) count [shuffle 1, partial-agg'd] →
    term document-frequency [shuffle 2 on term, 8-byte-ish keys] → equi-join
    tf⋈df on term [reuses shuffle 2's partitioning] → per-doc top-N window
    [shuffle 3 on doc id]. N is a one-row aggregate broadcast into the
    expression. Ranking uses the ROUNDED score (6 dp) with term tie-break so
    the output is engine-deterministic.
    """
    from pyspark.sql import Window as W

    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    # r14: eager cut at the (id, term, tf) table — dfreq and the scored
    # join would each replay the corpus tokenize+explode+agg otherwise
    tf = cut(
        toks.groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.countDistinct("id").alias("df"))
    # N fetched driver-side (one-row action, like IVF's centroid seeds) and
    # folded in as a literal — a one-row crossJoin would plan a
    # BroadcastNestedLoopJoin for no benefit.
    n_docs = df.select(F.countDistinct(F.col(id_col))).first()[0]
    scored = tf.join(dfreq, "term").withColumn(
        "tfidf",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs + 1)) / (F.col("df") + 1)),
            6,
        ),
    )
    w = W.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_n)
        .select("id", "term", "tfidf", "rk")
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, w: int = 4,
    carry_cols: tuple = (),
) -> DataFrame:
    """Winnowing fingerprints (the MOSS local-fingerprinting algorithm,
    Schleimer/Wilkerson/Aiken 2003): hash every character k-gram, keep the
    MINIMUM hash of each sliding window of w consecutive k-grams, emit the
    distinct selected hashes per document.

    Guarantees: any shared substring of length ≥ k+w-1 between two documents
    yields at least one shared fingerprint — the partial-overlap detector
    exact dedup can't provide. The classic formulation rolls a Rabin-Karp
    hash sequentially; set-semantically only "hash per k-gram + windowed
    min" matters, which vectorizes as array expressions (k-gram hash =
    md5_hash60 of substring — deterministic across engines, so the DuckDB
    oracle can replay it exactly).

    Output: (id, winnow_hash) exploded rows — a join/groupBy-ready shape:
    overlap detection = self-join on winnow_hash.

    Performance notes (these two choices are ~5× on 300-char docs):
    - The k-gram hash is the FIRST 15 HEX CHARS of md5, kept as a string —
      fixed-width lowercase hex compares lexicographically identically to
      its numeric value, so string min ≡ numeric min and the per-gram
      base-16 ``conv`` (one JVM bigint parse per character position) is
      dropped entirely.
    - Window minima are a ``zip_with``+``least`` chain over w aligned
      slices (w slices per ROW) instead of ``transform(sequence, i ->
      array_min(slice(hs, i, w)))`` which allocates a fresh array per
      WINDOW — same rewrite word_shingles uses.

    ``carry_cols`` rides extra columns through unchanged (e.g. ``source``
    for the stored fingerprint table) — cheaper than re-joining the
    exploded output back to the corpus on ``id_col``.
    """
    c = text_col
    hashes = (
        f"transform(sequence(1, length({c}) - {k} + 1), "
        f"i -> substring(md5(substring({c}, i, {k})), 1, 15))"
    )
    base = df.filter(F.length(c) >= k + w - 1).select(
        F.col(id_col), *[F.col(x) for x in carry_cols], F.expr(hashes).alias("hs")
    )
    m = F.size("hs") - (w - 1)
    acc = F.slice("hs", 1, m)
    for j in range(1, w):
        acc = F.zip_with(acc, F.slice("hs", j + 1, m), lambda a, b: F.least(a, b))
    return base.select(
        F.col(id_col),
        *[F.col(x) for x in carry_cols],
        F.explode(F.array_distinct(acc)).alias("winnow_hash"),
    )


def winnow_fingerprint_store(
    spark, sf_dir: str, k: int = 5, w: int = 4, force: bool = False
) -> str:
    """Build-once stored winnowing-fingerprint table (r10, the r9
    verdict's task #3 — the same stored-index pattern as
    knn_ivf_stored_probe): the shingle→md5→window-min pipeline over the
    corpus runs ONCE, and its output ``(doc_id, source, winnow_hash)`` is
    committed through ``tableformat.commit_atomic`` BUCKETED by
    ``winnow_hash``. Every fingerprint consumer (the registered
    fingerprint dump, the cross-source overlap matrix, the MOSS
    plagiarism report) then probes the committed snapshot instead of
    re-deriving ~90 fingerprints/doc from raw text — at 100 TB that is
    the difference between one corpus-scale fingerprint job per NIGHT
    and one per REPORT.

    Bucketing by ``winnow_hash`` makes the downstream shapes
    exchange-free on the stored side: the too-common-hash groupBy, the
    distinct (hash, source) collapse, and the inverted-index self-join
    all cluster on the bucket column, so hashpartitioning(winnow_hash)
    from the write is reused and no consumer re-shuffles the fingerprint
    mass (plan-pinned in tests/test_plans.py).

    Root discipline: ``stores.open_store`` keyed on (k, w) (see
    stores.py). ``force=True`` (the build query) rebuilds as a new
    version in the same root, so the bench bills the corpus-scale build
    to winnow_fingerprint_build_docs instead of hiding it behind the
    reuse. Returns the store root."""
    from . import stores, tableformat

    def _build(r):
        from ..session import load_table

        docs = load_table(spark, sf_dir, "documents")
        fp = winnow_fingerprints(
            docs, "doc_id", "text", k=k, w=w, carry_cols=("source",)
        )
        tableformat.commit_atomic(r, {"fp": ("bucketed", fp, "winnow_hash", 8)})

    return stores.open_store(
        spark, "winnow", sf_dir, "documents", (k, w), _build, force=force
    )


def winnow_fingerprint_probe(spark, sf_dir: str, k: int = 5, w: int = 4):
    """The committed fingerprint snapshot (build-if-absent, then stored
    reads only): (doc_id, source, winnow_hash), bucketed by winnow_hash."""
    from . import tableformat

    root = winnow_fingerprint_store(spark, sf_dir, k=k, w=w)
    return tableformat.read_atomic(spark, root, "fp")


#: Union of all language-profile stopwords — the "contains common words"
#: quality gate below is language-agnostic.
ALL_STOPWORDS: list[str] = [w for ws in LANG_PROFILES.values() for w in ws]

#: Gopher/C4-style quality-gate thresholds (public heuristics: Gopher rules,
#: Rae et al. 2021 §A1.1; C4 filters, Raffel et al. 2020 §2.2). Values are
#: tuned to the synthetic corpus so each gate actually discriminates.
QUALITY_MIN_TOKENS = 30
QUALITY_MAX_TOKENS = 5000
QUALITY_MIN_MEAN_WORD_LEN = 2  # mean token length lower bound
QUALITY_MAX_MEAN_WORD_LEN = 5  # and upper bound
QUALITY_MIN_STOPWORD_HITS = 3
QUALITY_MAX_SYMBOL_PER_10_CHARS = 1  # symbol chars <= 10% of all chars
QUALITY_MAX_DUP_FRAC_NUM = 11  # dup-token fraction <= 11/20 (0.55)
QUALITY_MAX_DUP_FRAC_DEN = 20


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-token
    fraction, most-frequent-token fraction, duplicate-bigram fraction
    (Rae et al. 2021 §A1.1 "repetition" filters).

    Scale shape: EVERY signal — including the top-token count — is a narrow
    per-row array pass fused into the scan, so the operator is shuffle-free.
    The top-token count is the longest equal-run in the doc's SORTED token
    array (sorting groups equal tokens adjacently), computed by one
    ``aggregate`` fold carrying (prev, run, best) — O(n log n) per doc
    instead of the former explode → (id, token) agg → (id) max → join-back,
    which shuffled every (doc, token) pair twice plus the join. All ratios
    are single int/int IEEE divisions (bit-identical in any engine; no
    rounding), so the DuckDB oracle hash-matches exactly.
    """
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    bigrams = word_shingles(F.col("_toks"), 2)
    narrow = base.select(
        F.col(id_col),
        F.size("_toks").alias("n_tokens"),
        F.size(F.array_distinct("_toks")).alias("n_distinct_tokens"),
        F.size(bigrams).alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).alias("n_distinct_bigrams"),
        F.expr(
            "aggregate(sort_array(_toks),"
            " struct(CAST(NULL AS STRING) AS prev, 0L AS run, 0L AS best),"
            " (s, t) -> struct(t AS prev,"
            "   CASE WHEN s.prev <=> t THEN s.run + 1L ELSE 1L END AS run,"
            "   greatest(s.best,"
            "     CASE WHEN s.prev <=> t THEN s.run + 1L ELSE 1L END) AS best),"
            " s -> s.best)"
        ).alias("top_token_count"),
    )
    n = F.col("n_tokens")
    nb = F.col("n_bigrams")
    top_c = F.col("top_token_count")
    return narrow.select(
        F.col(id_col),
        n,
        F.col("n_distinct_tokens"),
        F.col("n_bigrams"),
        F.col("n_distinct_bigrams"),
        top_c.alias("top_token_count"),
        ((n - F.col("n_distinct_tokens")) / F.greatest(n, F.lit(1))).alias(
            "dup_token_frac"
        ),
        (top_c / F.greatest(n, F.lit(1))).alias("top_token_frac"),
        ((nb - F.col("n_distinct_bigrams")) / F.greatest(nb, F.lit(1))).alias(
            "dup_bigram_frac"
        ),
    )


def quality_flags(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Composite C4/Gopher quality gate: five boolean sub-filters and their
    conjunction ``keep``. Every gate is an INTEGER comparison (no float
    output at all), so the result is trivially engine-portable:

    - ``ok_len``: token count within [QUALITY_MIN_TOKENS, QUALITY_MAX_TOKENS]
    - ``ok_word_len``: mean token length within bounds (as sum-vs-n*bound)
    - ``ok_stopword``: >= QUALITY_MIN_STOPWORD_HITS common-word hits
    - ``ok_symbol``: symbol chars <= 10% of characters
    - ``ok_repetition``: duplicate-token fraction <= 0.55 (as 20*(n-d)<=11*n)

    Narrow single pass — every flag fuses into the scan stage; no shuffle.
    """
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.col(text_col).alias("_text"),
        toks.alias("_toks"),
    )
    n = F.size("_toks")
    nd = F.size(F.array_distinct("_toks"))
    sum_len = F.aggregate(
        F.transform("_toks", lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    n_chars = F.length("_text")
    n_sym = n_chars - F.length(F.regexp_replace("_text", r"[^\w\s]", ""))
    hits = stopword_hits(F.col("_toks"), ALL_STOPWORDS)
    ok_len = (n >= QUALITY_MIN_TOKENS) & (n <= QUALITY_MAX_TOKENS)
    ok_word_len = (sum_len >= QUALITY_MIN_MEAN_WORD_LEN * n) & (
        sum_len <= QUALITY_MAX_MEAN_WORD_LEN * n
    )
    ok_stopword = hits >= QUALITY_MIN_STOPWORD_HITS
    ok_symbol = n_sym * 10 <= QUALITY_MAX_SYMBOL_PER_10_CHARS * n_chars
    ok_repetition = (n - nd) * QUALITY_MAX_DUP_FRAC_DEN <= (
        QUALITY_MAX_DUP_FRAC_NUM * n
    )
    return base.select(
        F.col(id_col),
        n.alias("n_tokens"),
        ok_len.alias("ok_len"),
        ok_word_len.alias("ok_word_len"),
        ok_stopword.alias("ok_stopword"),
        ok_symbol.alias("ok_symbol"),
        ok_repetition.alias("ok_repetition"),
        (ok_len & ok_word_len & ok_stopword & ok_symbol & ok_repetition).alias(
            "keep"
        ),
    )


def ngram_topk(
    df: DataFrame, text_col: str, k: int = 2, top_n: int = 20
) -> DataFrame:
    """Corpus-wide top-N word k-grams by frequency (deterministic tiebreak
    on the n-gram string). The vocabulary/phrase-frequency pass of corpus
    analysis.

    Scale shape: explode → hash partial-agg (map-side combine collapses the
    Zipf head before the shuffle) → final agg → TakeOrderedAndProject:
    only ``top_n`` rows per partition reach the driver, never a full sort.
    """
    base = df.select(tokens(F.col(text_col)).alias("_toks"))
    grams = base.select(
        F.explode(word_shingles(F.col("_toks"), k)).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(top_n)
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: int = 256,
    shard_col: str = "source",
) -> DataFrame:
    """Training-sequence packing: concatenate documents in deterministic
    order and split every ``target`` tokens, assigning each document the
    fixed-length training sequence its first token lands in (the greedy
    concat-and-split packing every LLM pre-training loader performs).

    Scale shape: one narrow token-count pass, then a running-sum window
    PARTITIONED BY the shard column — packing is embarrassingly parallel
    across shards (source / date / bucket), so no global sort and no
    single-partition window ever materializes. At 100 TB you pack each
    shard independently; sequence ids are only meaningful within a shard.

    Output: (shard, id, n_tokens, seq_id [0-based], seq_offset [token
    offset of the doc's first token within its sequence]).
    """
    from pyspark.sql import Window as W

    base = df.select(
        F.col(shard_col).alias("shard"),
        F.col(id_col),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    w = W.partitionBy("shard").orderBy(id_col)
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long")
    return base.select(
        "shard",
        F.col(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(start / target).cast("long").alias("seq_id"),
        (start % target).cast("long").alias("seq_offset"),
    )


def dup_ngram_fraction(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Per-document duplicated-substring profile: the fraction of a doc's
    distinct word k-grams that also appear in at least one OTHER document
    (the corpus-overlap metric behind substring-level dedup, Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better").

    Scale shape: explode per-doc DISTINCT k-gram hashes (16-byte keys, never
    gram text) → corpus doc-frequency agg [shuffle 1, partial-agg'd] →
    rejoin grams⋈df on the hash [reuses shuffle 1's partitioning] → per-doc
    count agg [shuffle 2 on id]. Every shuffle key is a hash or an id;
    document bodies never move. Docs with fewer than ``k`` tokens emit no
    grams and are absent from the output (same in the SQL twin).

    Output: (id, n_grams, n_dup_grams, dup_frac [4 dp]).
    """
    base = df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("t"))
    grams = base.select(
        "id",
        F.explode(F.array_distinct(word_shingles(F.col("t"), k))).alias("gram"),
    ).select("id", md5_hash60(F.col("gram")).alias("gram_h"))
    dfreq = grams.groupBy("gram_h").agg(F.countDistinct("id").alias("nd"))
    return (
        grams.join(dfreq, "gram_h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_dup_grams"),
        )
        .select(
            "id",
            "n_grams",
            "n_dup_grams",
            # basis points via floor(x + 0.5): bit-exact IEEE ops in every
            # engine, unlike round()'s tie handling on doubles
            F.floor(
                F.col("n_dup_grams") * F.lit(10000.0) / F.col("n_grams") + F.lit(0.5)
            )
            .cast("long")
            .alias("dup_bp"),
        )
    )


def inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 3,
    max_df: int = 40,
    k: int = 1,
) -> DataFrame:
    """Inverted index (term → sorted posting list) for the mid-frequency
    vocabulary band — the retrieval/search building block over a corpus.

    Scale shape: document-frequency agg FIRST [shuffle 1 on term,
    partial-agg'd], band filter, then postings are collected ONLY for
    surviving terms via a broadcast-able semi-join [shuffle 2]. Collecting
    before filtering would materialize the full posting list of every
    stopword ("the" → billions of ids) in a single aggregation buffer —
    the classic inverted-index OOM; the df-first order bounds every
    collect_list by ``max_df``.

    Output: (term, df_docs, postings [comma-joined sorted ids]).
    """
    base = df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_t"))
    terms = F.col("_t") if k == 1 else word_shingles(F.col("_t"), k)
    term_docs = base.select(
        "id", F.explode(F.array_distinct(terms)).alias("term")
    )
    dfreq = (
        term_docs.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_docs"))
        .filter((F.col("df_docs") >= min_df) & (F.col("df_docs") <= max_df))
    )
    # no broadcast hint: the surviving [min_df, max_df] band grows with
    # corpus vocabulary, so a forced broadcast risks driver/executor OOM at
    # 100 TB — AQE picks broadcast when the band is actually small
    return (
        term_docs.join(dfreq, "term")
        .groupBy("term", "df_docs")
        .agg(
            F.array_join(F.sort_array(F.collect_list("id")), ",").alias("postings")
        )
        .select("term", F.col("df_docs").cast("long").alias("df_docs"), "postings")
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n\n",
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup with document reassembly —
    the C4/Dolma preprocessing stage that strips boilerplate paragraphs
    (nav bars, cookie banners, license footers) repeated across millions of
    pages while each document keeps its unique prose.

    Winner rule (deterministic, engine-replayable): a paragraph survives
    only in its first occurrence, ordered by (id, position) — every other
    copy corpus-wide is dropped. Empty/whitespace-only paragraphs are
    dropped everywhere.

    Scale shape: [shuffle 1] winner min-agg on the 16-byte paragraph hash,
    KEYS ONLY (id+pos+hash — paragraph text never enters the agg, and min
    combines map-side so a billion-copy cookie banner reduces per-partition
    before the exchange); [shuffle 2] exploded paragraphs join winners on
    the hash — the only stage that moves text, once; AQE skew-join splits
    the hot-hash partitions that boilerplate creates. [shuffle 3] per-doc
    reassembly agg on id. No sort is global; no stage holds more than one
    document's paragraphs in a row.

    Output: (id, n_paras, n_kept, text_dedup) — docs whose every paragraph
    was claimed elsewhere surface with n_kept = 0 and empty text.
    """
    paras = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
        )
        .filter(F.trim(F.col("para")) != "")
        .select("id", "pos", "para", F.md5(F.col("para")).alias("h"))
    )
    winners = (
        paras.select("id", "pos", "h")
        .groupBy("h")
        .agg(F.min(F.struct("id", "pos")).alias("w"))
    )
    kept = (
        paras.join(winners, "h")
        .withColumn("_keep", F.struct("id", "pos") == F.col("w"))
    )
    return (
        kept.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.col("_keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("pos", "para"))
                        )
                    ),
                    lambda s: s.para,
                ),
                sep,
            ).alias("text_dedup"),
        )
        .select("id", "n_paras", "n_kept", "text_dedup")
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k retrieval for a fixed query — the sparse-retrieval
    workhorse (RAG candidate generation, benchmark-decontamination lookup,
    mining domain-relevant documents out of a crawl).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)   (the Lucene/ATIRE form,
    always positive).

    Scale shape: the token explode is filtered to the query's terms by a
    literal IN-list BEFORE any shuffle, so the corpus-wide (doc, term)
    stream shrinks to |q| terms per doc at the scan [then shuffle 1:
    per-(doc,term) tf partial-agg]. Per-term df is a ≤|q|-row aggregate
    joined back by broadcast [no repartition of the tf stream]. N/avgdl
    are one-row driver metadata (the tfidf N-literal pattern). The final
    top-k is orderBy+limit — Spark plans TakeOrderedAndProject, a
    per-partition heap + driver merge of k rows, never a global sort.

    Value parity: each term's contribution is individually micro-rounded
    (floor(x·1e6 + 0.5)::BIGINT) and the per-doc score is the exact
    integer SUM of those BIGINTs — engine-portable because no double sum
    depends on accumulation order (repo parity rule #1).

    Output: (id, score_micro, n_terms_hit) — the k best docs by
    (score_micro DESC, id ASC).
    """
    terms = sorted(set(query_terms))
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(tokens(F.col(text_col))).alias("dl"),
        tokens(F.col(text_col)).alias("toks"),
    )
    hits = (
        base.select("id", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
    )
    # r14: eager cut at the term-filtered tf table (≤|q| rows per doc) —
    # dfreq and the scored join would each replay the corpus
    # tokenize+explode pass otherwise
    tf = cut(
        hits.groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    dfreq = tf.groupBy("term").agg(F.countDistinct("id").alias("df"))
    stats = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(tokens(F.col(text_col)))).alias("sum_dl"),
    ).first()
    # Empty corpus: sum() over zero rows is NULL — guard before int().
    n_docs, sum_dl = int(stats["n"] or 0), int(stats["sum_dl"] or 0)
    avgdl = float(sum_dl) / float(n_docs) if n_docs else 1.0
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    contrib = idf * (
        F.col("tf") * F.lit(k1 + 1.0)
    ) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.lit(avgdl))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .select(
            "id",
            F.floor(contrib * F.lit(1e6) + F.lit(0.5)).cast("long").alias("c_micro"),
        )
        .groupBy("id")
        .agg(
            F.sum("c_micro").alias("score_micro"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    return scored.orderBy(F.col("score_micro").desc(), F.col("id").asc()).limit(k)


def dedup_substring_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Corpus-wide duplicated-substring REMOVAL (the ExactSubstr dedup of
    Lee et al. 2021): any token span of length ≥ k that occurs more than
    once anywhere in the corpus is cut from every occurrence except the
    first (ordered by (id, start) — the paragraph_dedup winner rule at
    span granularity). Overlapping duplicated spans merge into maximal
    islands before cutting, so staggered duplicates remove cleanly.

    Where ``dup_ngram_fraction`` profiles duplication and
    ``paragraph_dedup`` removes it at separator granularity, this removes
    it at token granularity — the strongest public dedup result for LM
    training data (the paper's suffix-array formulation is a single-node
    algorithm; the k-gram hash + winner-window form here is its
    shuffle-friendly equivalent for span length exactly k, applied at
    every start position so any duplicate run ≥ k tokens is caught).

    Scale shape: [shuffle 1] span hashes (16-byte-ish keys, never gram
    text) window-ranked per hash — first occurrence survives, the rest
    become removal intervals; [windows on id] interval merge
    (gaps-and-islands, per-doc partitions); [shuffle 2] merged intervals
    groupBy id (struct rows, tiny); [join] intervals back onto documents —
    interval side is only docs-with-duplicates, so AQE broadcasts it and
    DOCUMENT TEXT NEVER SHUFFLES; the cut itself is an array filter in
    codegen. Docs with no tokens are absent (same in the SQL twin).

    Output: (id, n_tokens, n_removed, text_dedup).
    """
    from pyspark.sql import Window as W

    base = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") > 0)
    gram_h = (
        f"transform(sequence(1, size(toks) - {k} + 1), "
        f"i -> struct(i - 1 AS s, md5(concat_ws(' ', slice(toks, i, {k}))) AS hx))"
    )
    spans = (
        base.filter(F.size("toks") >= k)
        .select("id", F.explode(F.expr(gram_h)).alias("sp"))
        .select("id", F.col("sp.s").alias("s"), F.col("sp.hx").alias("hx"))
    )
    rn = F.row_number().over(W.partitionBy("hx").orderBy("id", "s"))
    rem = (
        spans.withColumn("rn", rn)
        .filter(F.col("rn") > 1)
        .select("id", "s", (F.col("s") + F.lit(k - 1)).alias("e"))
    )
    w_doc = W.partitionBy("id").orderBy("s")
    prev_max = F.max("e").over(w_doc.rowsBetween(W.unboundedPreceding, -1))
    flagged = rem.withColumn(
        "flag",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    ).withColumn(
        "island", F.sum("flag").over(w_doc.rowsBetween(W.unboundedPreceding, 0))
    )
    merged = flagged.groupBy("id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    iv = merged.groupBy("id").agg(
        F.sort_array(F.collect_list(F.struct("ms", "me"))).alias("iv")
    )
    joined = base.join(iv, "id", "left").withColumn(
        "iv2",
        F.coalesce(F.col("iv"), F.expr("cast(array() as array<struct<ms:int,me:int>>)")),
    )
    kept = F.filter(
        F.col("toks"),
        lambda t, i: ~F.exists(
            F.col("iv2"), lambda r: (i >= r["ms"]) & (i <= r["me"])
        ),
    )
    return joined.select(
        "id",
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("text_dedup"),
    )


def lm_perplexity_scores(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Bigram-LM negative-log-likelihood scoring — the CCNet-style quality
    filter: train a smoothed bigram language model on the corpus itself,
    score every document by its average per-bigram NLL (low = fluent /
    in-distribution, high = noise), then gate or bucket on the score.

    Model: add-one smoothing over corpus-occurrence counts,
    P(w2|w1) = (c2(w1,w2) + 1) / (c1(w1) + V), with c1 = corpus unigram
    occurrences, c2 = corpus bigram occurrences, V = |vocab| (a one-row
    driver scalar, like tfidf's N literal).

    Scale shape: counts collapse to the VOCABULARY before anything joins
    (Zipf: both c1 and c2 tables are tiny next to the token stream, and
    both aggs combine map-side). The per-bigram NLL is computed ONCE PER
    DISTINCT BIGRAM on the c2 table (vocab-sized join c2⋈c1 on w1), and
    the corpus-scale bigram stream then joins that scored table on
    (w1, w2) — one join touches the stream, everything else is
    vocab-sized. Final per-doc agg on the 8-byte id.

    Value parity: each bigram's NLL is micro-rounded to BIGINT
    (floor(x·1e6 + 0.5)) and per-doc values are exact integer sums of
    those — no order-dependent float accumulation (repo parity rule #1).

    Output: (id, n_bigrams, nll_micro_sum, avg_nll_micro); docs with < 2
    tokens are absent (no bigram evidence — same rows absent in the SQL
    twin).
    """
    # r14: eager cut at the tokenized corpus — it feeds the unigram agg
    # and BOTH bigram subtrees (the c2 vocab agg and the per-doc scoring
    # stream), so the tokenize would otherwise run 3x in the final plan
    # plus once for the |vocab| action below
    base = cut(df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    ))
    # vocab-scale cut: the |vocab| driver action and the scored join both
    # consume the unigram table
    uni = cut(
        base.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    v = uni.count()  # |vocab|: bounded driver metadata
    bigrams = base.filter(F.size("toks") >= 2).select(
        "id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
            )
        ).alias("b"),
    ).select("id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    c2 = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    scored_vocab = c2.join(uni.withColumnRenamed("w", "w1"), "w1").select(
        "w1",
        "w2",
        F.floor(
            -F.log(
                (F.col("c2") + F.lit(1)).cast("double")
                / (F.col("c1") + F.lit(v)).cast("double")
            )
            * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("nll_micro"),
    )
    return (
        bigrams.join(scored_vocab, ["w1", "w2"])
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("nll_micro").alias("nll_micro_sum"),
        )
        .select(
            "id",
            "n_bigrams",
            "nll_micro_sum",
            F.floor(
                F.col("nll_micro_sum").cast("double") / F.col("n_bigrams")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("avg_nll_micro"),
        )
    )


def bpe_merge_candidates(
    df: DataFrame, text_col: str, top_n: int = 20
) -> DataFrame:
    """Top adjacent-character-pair frequencies over the corpus vocabulary —
    the counting step of one BPE merge round (tokenizer induction):
    pair_count(ab) = Σ_{word} occurrences(word) · count_of_ab_in_word.

    Scale shape: [shuffle 1] word-frequency agg collapses the corpus to its
    VOCABULARY (Zipf: tiny next to the token stream, partial-agg'd
    map-side) — the per-word bigram explode then runs over distinct words
    only, not every token occurrence; [shuffle 2] pair-count agg on 2-char
    keys; top-N is TakeOrderedAndProject (per-partition heap, no global
    sort). A full BPE trainer repeats this with a re-segmented vocabulary
    per round — each round is this same pair of narrow-key aggregates.

    Output: (pair, n_pairs) — the N most frequent pairs, count-desc with
    pair tie-break.
    """
    words = df.select(F.explode(tokens(F.col(text_col))).alias("w")).groupBy(
        "w"
    ).agg(F.count(F.lit(1)).alias("wc"))
    pairs = words.filter(F.length("w") >= 2).select(
        "wc",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("n_pairs"))
        .orderBy(F.col("n_pairs").desc(), F.col("pair").asc())
        .limit(top_n)
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    checkpoint_every: int = 8,
) -> list[tuple[str, str, int]]:
    """Iterative BPE TRAINING — the full tokenizer-induction loop whose
    single counting round ``bpe_merge_candidates`` exposes: repeat n_merges
    times {count adjacent pairs over the (weighted) vocabulary → take the
    most frequent → re-segment the vocabulary with that merge}.

    Returns [(left, right, pair_count), …] in merge order — the merges.txt
    a real trainer emits (feed it to ``bpe_encode``/``bpe_encode_arrow``).
    Ties break (count desc, left asc, right asc) — deterministic.

    Scale shape: round 0 collapses the corpus to its VOCABULARY (Zipf:
    tiny next to the token stream; the ONLY corpus-scale shuffle). Every
    round after that runs on the vocab DF alone: a pair explode + 2-char-
    key agg + top-1 (driver gets 3 values), then a narrow codegen'd
    re-segmentation. Lineage is cut with localCheckpoint every
    ``checkpoint_every`` rounds so a 32k-merge run doesn't grow a 32k-deep
    plan. Re-segmentation uses the repo's replayable 2-pass-replace
    semantics over the spaced-word form (see bpe_encode — fixpoint, with
    the documented same-char-run ordering deviation from per-occurrence
    greedy), so the trainer, its DuckDB oracle twin, and bpe_encode all
    share byte-identical merge application.
    """
    base = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w0"))
        .groupBy("w0")
        .agg(F.count(F.lit(1)).alias("wc"))
        .select(
            F.expr(
                "concat(' ', array_join(transform(sequence(1, length(w0)), "
                "i -> substr(w0, i, 1)), ' '), ' ')"
            ).alias("w"),
            "wc",
        )
        .persist()
    )
    n_vocab = base.count()  # the one corpus-scale job; the rest is vocab-sized
    # Right-size the loop: the vocab is Zipf-tiny next to the corpus, so
    # per-round jobs over the full shuffle-partition count are pure task
    # overhead. ~100k vocab rows per partition keeps each round a handful
    # of tasks at any corpus size (10M-word vocab → ~100 partitions).
    n_parts = max(1, min(int(n_vocab // 100_000) + 1, 200))
    base2 = base.coalesce(n_parts).persist()
    base2.count()
    base.unpersist()
    base = base2
    vocab = base
    merges: list[tuple[str, str, int]] = []
    for round_no in range(n_merges):
        pairs = vocab.select(
            "wc", F.expr("split(trim(w), ' ')").alias("arr")
        ).filter(F.size("arr") >= 2).select(
            "wc",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(arr) - 1), "
                    "i -> struct(arr[i - 1] AS l, arr[i] AS r))"
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("wc").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        merges.append((l, r, cnt))
        # F.replace with literal columns — token text never enters a SQL
        # string (a vocab token may contain quotes/backslashes)
        pat, rep = F.lit(f" {l} {r} "), F.lit(f" {l}{r} ")
        vocab = vocab.select(
            F.replace(F.replace(F.col("w"), pat, rep), pat, rep).alias("w"),
            "wc",
        )
        # Between checkpoints the re-segmentation chains LAZILY: each
        # round's pair agg re-runs ≤checkpoint_every narrow replaces over
        # the persisted vocab — far cheaper than a materialization job per
        # round. localCheckpoint cuts the lineage on cadence so a 32k-merge
        # run never grows a deep plan.
        if (round_no + 1) % checkpoint_every == 0:
            vocab = cut(vocab)
    base.unpersist()
    return merges


def bpe_train_reference(
    word_counts: dict[str, int], n_merges: int
) -> list[tuple[str, str, int]]:
    """Pure-Python twin of ``bpe_train`` (same spaced-word 2-pass-replace
    semantics, same tie-break) — the independent check the tests compare
    the Spark trainer against."""
    vocab = {" " + " ".join(w) + " ": c for w, c in word_counts.items()}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, c in vocab.items():
            arr = w.split()
            for i in range(len(arr) - 1):
                counts[(arr[i], arr[i + 1])] = counts.get((arr[i], arr[i + 1]), 0) + c
        if not counts:
            break
        (l, r), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((l, r, cnt))
        pat, rep = f" {l} {r} ", f" {l}{r} "
        new_vocab: dict[str, int] = {}
        for w, c in vocab.items():
            w2 = w.replace(pat, rep).replace(pat, rep)
            new_vocab[w2] = new_vocab.get(w2, 0) + c
        vocab = new_vocab
    return merges


#: Fixed BPE merge table for bpe_encode's driver-checked query — the shape
#: a real trainer produces (bpe_merge_candidates is its counting step);
#: order matters: merges apply sequentially, later merges can consume
#: earlier merge outputs (e.g. 'th' + 'e').
BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("o", "r"), ("e", "r"), ("s", "t"), ("an", "d"),
]


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Apply a learned BPE merge table to the corpus — the ENCODE side of
    tokenizer induction (bpe_merge_candidates is the training-count side).

    Algorithm (engine-replayable): each word becomes its space-separated
    character sequence, padded with sentinel spaces; each merge (a, b) is
    a left-to-right non-overlapping ``replace(' a b ' → ' ab ')`` applied
    TWICE — two passes are a guaranteed fixpoint for a single pattern over
    a spaced word: pass 1 merges alternating occurrences in a run (each
    match consumes the shared boundary space of its successor), leaving
    every survivor isolated between merged tokens, so pass 2 catches them
    all, and replacements never split tokens so no new occurrences can
    appear (property-tested in
    tests/test_bpe_batching.py::test_bpe_encode_two_passes_equal_python_fixpoint).
    ``replace`` has identical semantics in Spark and every SQL engine, so
    the oracle replays encoding byte-for-byte. Sequential-pass BPE is the
    standard vectorized approximation of the per-word priority queue (one
    corpus pass per merge instead of per-pair-occurrence bookkeeping);
    ``bpe_encode_arrow`` below is the exact rank-priority tier for real
    merge tables.

    Scale shape: zero shuffles — a pure codegen'd projection. The encode
    expression (the heaviest in the query) is MATERIALIZED ONCE in a first
    select; the three outputs derive from that column, so it evaluates
    once per row, not once per output (Spark's subexpression elimination
    does not reliably cover nested higher-order functions). The merge
    table is driver metadata (a real tokenizer's merges.txt) — but note
    the chained-replace expression tree grows with the table, so this tier
    caps at tens of merges; past that, use ``bpe_encode_arrow``. Output:
    (id, n_words, n_bpe_tokens, enc_md5) where enc_md5 fingerprints the
    full encoded doc (words joined by '|').
    """
    if merges is None:
        merges = BPE_MERGES
    spaced = "array_join(transform(sequence(1, length(w)), i -> substr(w, i, 1)), ' ')"
    chain = f"concat(' ', {spaced}, ' ')"
    for a, b in merges:
        for _ in range(2):  # two passes = fixpoint (see docstring)
            chain = f"replace({chain}, ' {a} {b} ', ' {a}{b} ')"
    enc_words = (
        f"transform(filter(split(lower({text_col}), '\\\\s+'), x -> x != ''), "
        f"w -> trim({chain}))"
    )
    encoded = df.select(
        F.col(id_col).alias("id"), F.expr(enc_words).alias("enc")
    )
    return encoded.select(
        "id",
        F.size("enc").cast("long").alias("n_words"),
        F.expr(
            "aggregate(transform(enc, e -> size(split(e, ' '))), "
            "0, (acc, v) -> acc + v)"
        )
        .cast("long")
        .alias("n_bpe_tokens"),
        F.expr("md5(array_join(enc, '|'))").alias("enc_md5"),
    )


def bpe_encode_reference(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Canonical single-word BPE encode (the GPT-2 ``bpe()`` loop): repeat
    "merge the lowest-rank adjacent pair" until no pair is in the table.
    Pure Python, driver/executor-shared; the unit both the Arrow tier and
    its tests call."""
    parts = list(word)
    while len(parts) > 1:
        pairs = {(parts[i], parts[i + 1]) for i in range(len(parts) - 1)}
        best = min(pairs, key=lambda p: ranks.get(p, float("inf")))
        if best not in ranks:
            break
        a, b = best
        out: list[str] = []
        i = 0
        while i < len(parts):
            if i < len(parts) - 1 and parts[i] == a and parts[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(parts[i])
                i += 1
        parts = out
    return parts


def bpe_encode_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """EXACT rank-priority BPE encode for production merge tables — the
    Arrow ``mapInPandas`` tier of ``bpe_encode`` (the ``classifier_scores``
    pattern, operators/inference.py): a real merges.txt is 32k+ rows, and
    the column tier's chained-replace expression tree will not parse or
    codegen at that depth, while this tier's cost is O(1) expression nodes
    regardless of table size.

    Semantics: the canonical tokenizer loop — per word, repeatedly merge
    the LOWEST-RANK adjacent pair (``bpe_encode_reference``) with a
    per-partition word→tokens memo (Zipf: the corpus vocabulary is tiny
    next to the token stream, so the memo hit-rate is high and each
    distinct word is encoded once per partition).

    Scale shape: zero shuffles — mapInPandas is a narrow per-partition
    transform; the merge table ships once per executor in the closure
    (32k pairs ≈ 1 MB, far under broadcast-worthy size). Same output
    schema as ``bpe_encode``: (id, n_words, n_bpe_tokens, enc_md5).
    """
    import hashlib

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    ranks = {pair: i for i, pair in enumerate(merges)}
    out_schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType),
            StructField("n_words", LongType()),
            StructField("n_bpe_tokens", LongType()),
            StructField("enc_md5", StringType()),
        ]
    )

    def encode_batches(batches):
        import pandas as pd

        memo: dict[str, list[str]] = {}

        def enc_word(w: str) -> list[str]:
            got = memo.get(w)
            if got is None:
                got = memo[w] = bpe_encode_reference(w, ranks)
            return got

        for pdf in batches:
            ids, n_words, n_toks, md5s = [], [], [], []
            for id_val, txt in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in (txt or "").lower().split() if w]
                encs = [enc_word(w) for w in words]
                ids.append(id_val)
                n_words.append(len(words))
                n_toks.append(sum(len(e) for e in encs))
                md5s.append(
                    hashlib.md5(
                        "|".join(" ".join(e) for e in encs).encode()
                    ).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "id": ids,
                    "n_words": n_words,
                    "n_bpe_tokens": n_toks,
                    "enc_md5": md5s,
                }
            )

    return df.select(id_col, text_col).mapInPandas(encode_batches, out_schema)


def nfc_normalize(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Unicode NFC normalization — the canonical-composition pass real
    crawl corpora need before any hash-based dedup (the same visible text
    arrives both composed 'é' and decomposed 'e'+U+0301; every md5/minhash
    operator in this repo would treat them as different documents).

    Tier honesty: Spark has NO built-in Unicode normalizer, so this is a
    legitimate Arrow ``mapInPandas`` stage (stdlib ``unicodedata``, C
    implementation) — not a slow-path workaround. Zero shuffles; at 100 TB
    it fuses as one narrow pass after the scan. The DuckDB twin is its
    native ``nfc_normalize`` — two INDEPENDENT Unicode implementations
    agreeing is the correctness check.

    Output: (id, text_nfc, n_chars_before, n_chars_after, changed).
    """
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType),
            StructField("text_nfc", StringType()),
            StructField("n_chars_before", LongType()),
            StructField("n_chars_after", LongType()),
            StructField("changed", BooleanType()),
        ]
    )

    def _run(batches):
        import unicodedata

        import pandas as pd

        for pdf in batches:
            ids, out, nb, na, ch = [], [], [], [], []
            for id_val, s in zip(pdf[id_col], pdf[text_col]):
                s = s or ""
                t = unicodedata.normalize("NFC", s)
                ids.append(id_val)
                out.append(t)
                nb.append(len(s))
                na.append(len(t))
                ch.append(t != s)
            yield pd.DataFrame(
                {
                    "id": ids,
                    "text_nfc": out,
                    "n_chars_before": nb,
                    "n_chars_after": na,
                    "changed": ch,
                }
            )

    return df.select(id_col, text_col).mapInPandas(_run, schema)


def char_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document Shannon entropy over CHARACTERS, in integer
    micro-nats — the cheap garbage detector every crawl pipeline runs
    (binary spew, ``aaaa…`` repetition, and base64 walls sit far from
    prose entropy, CCNet/Gopher use exactly this signal).

    Shape: char explode → (id, char) count agg → per-doc total via a
    window over the SAME doc-key partitioning (no join) → per-term
    ``round(-(c/n)·ln(c/n)·1e6)`` summed as BIGINT. The per-term
    micro-round before the sum makes the result order-independent and
    engine-exact (the repo-wide integer-micro rule); both shuffles carry
    (id, single-char) keys, never document text.

    Output: (id, n_chars, n_distinct_chars, entropy_micro).
    """
    from pyspark.sql import Window as W

    chars = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), "")).alias("ch"),
    )
    hist = chars.groupBy("id", "ch").agg(F.count(F.lit(1)).alias("c"))
    w = W.partitionBy("id")
    t = hist.withColumn("n", F.sum("c").over(w))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    term = F.round(-p * F.log(p) * F.lit(1000000.0)).cast("long")
    return (
        t.withColumn("term", term)
        .groupBy("id")
        .agg(
            F.max("n").alias("n_chars"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.sum("term").alias("entropy_micro"),
        )
    )


def vocab_coverage(
    df: DataFrame, id_col: str, text_col: str, vocab: list
) -> DataFrame:
    """Per-document vocabulary coverage / OOV rate against a fixed token
    vocabulary — the tokenizer-QA signal (a corpus whose OOV rate jumps
    after a crawl refresh will fragment into byte-fallback tokens and
    silently inflate sequence lengths).

    Literal tier: ``vocab`` is driver metadata (like BM25's query terms);
    membership is an ``array_contains`` over a literal array inside one
    zero-shuffle codegen projection. Use ``vocab_coverage_joined`` for
    real 32k+ vocabularies (a literal that size breaks codegen).

    Output: (id, n_tokens, n_oov, oov_bp) — basis points as integer
    division, engine-exact.
    """
    vset = F.array(*[F.lit(t) for t in vocab])
    toks = tokens(F.col(text_col))
    out = df.select(
        F.col(id_col).alias("id"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(
            F.filter(toks, lambda t: ~F.array_contains(vset, t))
        ).cast("long").alias("n_oov"),
    )
    bp = F.when(
        F.col("n_tokens") > 0,
        F.expr("(n_oov * 10000) div n_tokens"),
    ).otherwise(F.lit(0))
    return out.withColumn("oov_bp", bp.cast("long"))


def vocab_coverage_joined(
    df: DataFrame, id_col: str, text_col: str, vocab_df: DataFrame
) -> DataFrame:
    """The scale tier of ``vocab_coverage``: ``vocab_df`` (one ``token``
    column, e.g. a 32k-entry tokenizer vocab table) broadcasts into an
    anti-join over the exploded token stream — OOV tokens are counted
    map-side after a broadcast hash lookup, so the only exchange is the
    per-doc count agg on the id key. Same output columns; the equality of
    the two tiers is pinned by tests."""
    base = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    )
    tok = base.select("id", F.explode("toks").alias("token"))
    oov = (
        tok.join(F.broadcast(vocab_df.select("token")), "token", "left_anti")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_oov"))
    )
    out = (
        base.select("id", F.size("toks").cast("long").alias("n_tokens"))
        .join(oov, "id", "left")
        .withColumn("n_oov", F.coalesce(F.col("n_oov"), F.lit(0)).cast("long"))
    )
    bp = F.when(
        F.col("n_tokens") > 0,
        F.expr("(n_oov * 10000) div n_tokens"),
    ).otherwise(F.lit(0))
    return out.withColumn("oov_bp", bp.cast("long"))


def kneser_ney_bigrams(
    df: DataFrame, text_col: str, discount_milli: int = 750
) -> DataFrame:
    """Interpolated Kneser-Ney smoothed bigram probabilities over the
    corpus (Kneser & Ney 1995; Chen & Goodman 1999 — the standard n-gram
    LM smoothing behind quality-scoring / contamination LMs for training
    data). With absolute discount D = ``discount_milli``/1000:

        P_KN(w2|w1) = max(c(w1,w2) - D, 0) / c1(w1)
                      + D · N1+(w1,·) / c1(w1) · N1+(·,w2) / B

    where c1(w1) = Σ_w2 c(w1,w2) (occurrences of w1 as a left context),
    N1+(w1,·) = distinct continuations of w1, N1+(·,w2) = distinct left
    contexts of w2 (the "novel-context" count that makes KN beat add-k),
    and B = total distinct bigrams (so the lower-order term is the KN
    continuation distribution P_cont(w2) = N1+(·,w2)/B).

    Scale shape: the token stream collapses to the DISTINCT-BIGRAM table
    in one map-side-combined agg; every other input (c1, N1+ forward,
    N1+ backward) is a groupBy over that vocab-sized table on a single
    short-string key, and B is one driver scalar. The probability is
    computed once per distinct bigram — nothing after the first agg
    touches corpus-scale data. Value parity: micro-rounded to BIGINT
    (floor(p·1e6 + 0.5)); every input to the float formula is an exact
    integer so both engines evaluate the identical expression.

    Output: one row per distinct bigram —
    (w1, w2, c2, c1, n1p_fw, n1p_bw, pkn_micro).
    """
    d = discount_milli / 1000.0
    base = df.select(tokens(F.col(text_col)).alias("toks")).filter(
        F.size("toks") >= 2
    )
    bg = base.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    # r14: eager cut at the bigram-type table — it feeds FOUR consumers
    # (the |bigrams| driver count, left, right, and the scored join) and
    # each would otherwise replay the corpus bigram explode+agg
    c2 = cut(bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")))
    left = c2.groupBy("w1").agg(
        F.sum("c2").alias("c1"), F.count(F.lit(1)).alias("n1p_fw")
    )
    right = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_bw"))
    b_total = c2.count()  # one driver scalar: |distinct bigrams|
    scored = (
        c2.join(left, "w1")
        .join(right, "w2")
        .withColumn(
            "pkn_micro",
            F.floor(
                (
                    F.greatest(F.col("c2") - F.lit(d), F.lit(0.0))
                    / F.col("c1")
                    + F.lit(d)
                    * F.col("n1p_fw")
                    / F.col("c1")
                    * (F.col("n1p_bw") / F.lit(float(b_total)))
                )
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    return scored.select(
        "w1", "w2",
        F.col("c2").cast("long").alias("c2"),
        F.col("c1").cast("long").alias("c1"),
        F.col("n1p_fw").cast("long").alias("n1p_fw"),
        F.col("n1p_bw").cast("long").alias("n1p_bw"),
        "pkn_micro",
    )


def nb_classify(df: DataFrame, id_col: str, label_col: str, text_col: str) -> DataFrame:
    """Multinomial Naive Bayes with add-one smoothing, trained and applied
    in one pass over the corpus — the shape of every "fastText-like"
    quality/language classifier in LLM data pipelines (CCNet's lang filter,
    GPT-3/LLaMA's quality filter): per-class token log-odds, per-document
    log-odds dot product, argmax.

        score(d, c) = ln P(c) + sum_t count(d,t) * ln P(t | c)
        P(t | c)    = (n_{c,t} + 1) / (N_c + |V|),   V = global vocab

    Exactness: ln-prior and ln-likelihood are micro-rounded to integers
    ONCE (per class / per (class, token)); document scores are integer
    dot products, so the argmax is shuffle-deterministic and
    oracle-replayable. Ties break on class name ascending.

    Dataflow for 100 TB: one explode → (doc, token) counts; the model is a
    (|V| × n_classes)-row table built by two token-key aggregations
    (vocab-collapse — model size is independent of corpus row count); the
    score join is a token-key equi-join of counts against the model, then
    one integer agg per (doc, class) and a per-doc argmax window
    (partitioned by doc id — never global). Document text is never
    shuffled. Documents with zero tokens are excluded (no features).

    Returns one row per document: (id_col, label_col, pred, score_micro).
    """
    from pyspark.sql import Window as W

    # r14 eager cuts: ``base`` feeds dt AND the doc-count/prior aggs (the
    # tokenize ran 4x in the final plan); ``dt`` feeds the model chain and
    # the score join; ``ct`` feeds the class totals, the vocab, and the
    # dense-grid left join — every one a separate replay otherwise
    base = cut(df.select(
        F.col(id_col), F.col(label_col).alias("_label"), tokens(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") >= 1))
    dt = cut(
        base.select(id_col, "_label", F.explode("toks").alias("t"))
        .groupBy(id_col, "_label", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # class-token counts, class totals, global vocab — all vocab-collapsed
    ct = cut(dt.groupBy("_label", "t").agg(F.sum("c").alias("nct")))
    cls = ct.groupBy("_label").agg(F.sum("nct").alias("nc"))
    vocab = ct.select("t").distinct()
    v_size = vocab.agg(F.count(F.lit(1)).alias("v"))
    # dense (class, token) grid so unseen (class, token) pairs get the
    # add-one floor instead of silently dropping out of the dot product
    classes = cls.select("_label")
    grid = vocab.crossJoin(F.broadcast(classes))
    model = (
        grid.join(ct, ["_label", "t"], "left")
        .join(F.broadcast(cls), "_label")
        .crossJoin(F.broadcast(v_size))
        .select(
            "_label",
            "t",
            F.floor(
                F.log(
                    (F.coalesce(F.col("nct"), F.lit(0)) + 1)
                    / (F.col("nc") + F.col("v"))
                )
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    ndocs = base.agg(F.count(F.lit(1)).alias("n_docs"))
    prior = (
        base.groupBy("_label")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(ndocs))
        .select(
            F.col("_label").alias("_cls"),
            F.floor(F.log(F.col("n") / F.col("n_docs")) * 1e6 + 0.5)
            .cast("long")
            .alias("prior_micro"),
        )
    )
    scores = (
        dt.join(model.withColumnRenamed("_label", "_cls"), "t")
        .groupBy(id_col, "_label", "_cls")
        .agg(F.sum(F.col("c") * F.col("lp_micro")).alias("dot_micro"))
        .join(F.broadcast(prior), "_cls")
        .withColumn("score_micro", (F.col("dot_micro") + F.col("prior_micro")).cast("long"))
    )
    w = W.partitionBy(id_col).orderBy(F.col("score_micro").desc(), F.col("_cls").asc())
    return (
        scores.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            id_col,
            F.col("_label").alias(label_col),
            F.col("_cls").alias("pred"),
            "score_micro",
        )
    )


def compression_ratio(
    df: DataFrame, id_col: str, text_col: str, level: int = 6
) -> DataFrame:
    """Per-document zlib compression ratio in micros — the
    model-free repetitiveness signal LLM-data pipelines run beside the
    Gopher token heuristics (highly compressible ⇒ boilerplate/repeats;
    near-incompressible ⇒ random noise; natural prose sits in a known
    band — used as a quality gate by e.g. the RefinedWeb/Dolma recipes).

    Arrow ``mapInPandas`` tier (the bpe_encode/classifier_scores
    pattern): zlib is stdlib and DEFLATE at a fixed level is
    deterministic for a given library version, so the column is
    reproducible across runs of the same image; the ratio is emitted as
    the integer 1e6·compressed/raw. Zero shuffles — a narrow
    per-partition pass; no SQL oracle exists for DEFLATE, so this tier
    is pytest-pinned (known-repetitive vs known-random fixtures) rather
    than oracle-paired, like the codec tiers.
    """
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("raw_bytes", T.LongType()),
            T.StructField("compressed_bytes", T.LongType()),
            T.StructField("ratio_micro", T.LongType()),
        ]
    )

    def batches(it):
        import zlib

        for pdf in it:
            ids, raws, comps, ratios = [], [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                b = (t or "").encode("utf-8")
                c = len(zlib.compress(b, level)) if b else 0
                ids.append(int(i))
                raws.append(len(b))
                comps.append(c)
                ratios.append((1000000 * c) // len(b) if b else 0)
            yield pd.DataFrame(
                {
                    "id": ids,
                    "raw_bytes": raws,
                    "compressed_bytes": comps,
                    "ratio_micro": ratios,
                }
            )

    return df.select(id_col, text_col).mapInPandas(batches, out_schema)
