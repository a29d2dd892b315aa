"""Unit tests for the §2.5 extension operators on crafted micro-data
(planted duplicates, known vectors) — the oracle harness covers the
synthetic-table scale; these pin the semantics."""

from __future__ import annotations

import pytest

from data_ingestion_spark.operators import dedup, similarity, text


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


NEAR_A = "the quick brown fox jumps over the lazy dog near the river bank today"
NEAR_B = "the quick brown fox jumps over the lazy dog near the river bank tonight"
OTHER = "completely different words about spark distributed computing engines"


def test_exact_dedup_representatives(spark):
    df = docs_df(spark, [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")])
    out = {r["doc_id"]: r for r in dedup.exact_dedup_representatives(df, "text", "doc_id").collect()}
    assert out[1]["n_copies"] == 3  # min-id representative for 'aaa'
    assert out[2]["n_copies"] == 1
    assert set(out) == {1, 2}


def test_jaccard_pairs_finds_planted_near_dup(spark):
    from pyspark.sql import functions as F

    df = docs_df(spark, [(1, NEAR_A), (2, NEAR_B), (3, OTHER)])
    pairs = dedup.jaccard_pairs(
        df, "doc_id", "text", block_cols=[F.lit(1)], k=3, threshold=0.5
    ).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] > 0.7


def test_minhash_finds_planted_near_dup(spark):
    df = docs_df(spark, [(1, NEAR_A), (2, NEAR_B), (3, OTHER)])
    pairs = dedup.minhash_near_dup(
        df, "doc_id", "text", k=3, jaccard_distance_threshold=0.6
    ).collect()
    assert (1, 2) in [(p["id_a"], p["id_b"]) for p in pairs]


def test_simhash_identical_and_near(spark):
    df = docs_df(spark, [(1, NEAR_A), (2, NEAR_A), (3, NEAR_B), (4, OTHER)])
    sigs = {r["id"]: r["simhash"] for r in dedup.simhash(df, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2]  # identical text → identical signature
    ham_near = bin(sigs[1] ^ sigs[3]).count("1")
    ham_far = bin(sigs[1] ^ sigs[4]).count("1")
    assert ham_near < ham_far  # near-dup closer in hamming space
    assert all(0 <= s < 2**60 for s in sigs.values())


def test_simhash_hamming_pairs(spark):
    df = docs_df(spark, [(1, NEAR_A), (2, NEAR_A), (3, OTHER)])
    sig = dedup.simhash(df, "doc_id", "text")
    pairs = dedup.simhash_hamming_pairs(sig, max_hamming=3).collect()
    assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [(1, 2, 0)]


def vec_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(spark):
    df = vec_df(
        spark,
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.1]),   # closest to 0
            (2, [0.5, 0.5]),
            (3, [0.0, 1.0]),   # orthogonal to 0
        ],
    )
    q = df.filter("vec_id = 0")
    out = similarity.cosine_topk(df, q, k=3).collect()
    assert [r["neighbor_id"] for r in out] == [1, 2, 3]
    assert out[0]["cosine"] > 0.99
    assert out[2]["cosine"] == 0.0


def test_embedding_near_dup_threshold(spark):
    df = vec_df(spark, [(0, [1.0, 0.0]), (1, [1.0, 0.01]), (2, [0.0, 1.0])])
    pairs = dedup.embedding_near_dup(df, "vec_id", "embedding", threshold=0.9).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(0, 1)]


def test_hyperplane_lsh_finds_identical(spark):
    base = [float(i % 7 - 3) for i in range(16)]
    df = vec_df(
        spark,
        [(0, base), (1, list(base)), (2, [-x for x in base])],
    )
    pairs = similarity.hyperplane_lsh_pairs(
        df, bits=8, band_bits=4, threshold=0.99, dim=16
    ).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(0, 1)]


def test_language_id_real_sentences(spark):
    df = docs_df(
        spark,
        [
            (1, "the cat sat on the mat and it is happy"),
            (2, "el gato que vive en la casa es de un amigo"),
            (3, "le chat est dans la maison et les oiseaux dans un arbre"),
            (4, "der hund und die katze das ist ein tier mit den besten"),
            (5, "xyzzy plugh qwerty"),
        ],
    )
    out = {r["doc_id"]: r["pred_lang"] for r in text.language_id(df, "doc_id", "text").collect()}
    assert out == {1: "en", 2: "es", 3: "fr", 4: "de", 5: "und"}


def test_text_quality_features(spark):
    df = docs_df(spark, [(1, "The quick fox! And the dog.")])
    r = text.text_quality(df, "doc_id", "text").collect()[0]
    assert r["n_tokens"] == 6
    assert r["n_chars_computed"] == 27
    assert r["punct_ratio"] == pytest.approx(2 / 27, abs=1e-4)
    assert r["stopword_ratio"] == pytest.approx(3 / 6, abs=1e-4)  # the, and, the


def test_token_counts(spark):
    df = docs_df(spark, [(1, "hello world42 a-b")])
    r = text.token_counts(df, "doc_id", "text").collect()[0]
    assert r["n_ws_tokens"] == 3
    # bpe-ish: hello, world, 42, a, -, b
    assert r["n_bpe_tokens"] == 6


def test_fingerprint_deterministic(spark):
    import hashlib

    df = docs_df(spark, [(1, "abc")])
    r = text.fingerprint(df, "doc_id", "text").collect()[0]
    assert r["fingerprint"] == hashlib.md5(b"abc").hexdigest()
    assert r["fingerprint60"] == int(hashlib.md5(b"abc").hexdigest()[:15], 16)


def test_ivf_full_probe_equals_brute_force(spark):
    from data_ingestion_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter("vec_id < 3")
    cents = similarity.ivf_centroids_from_sample(emb, n_lists=4)
    exact = {
        tuple(r)
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    ivf_full = {
        tuple(r)
        for r in similarity.ivf_topk(emb, queries, cents, k=5, n_probe=4).collect()
    }
    assert ivf_full == exact and len(exact) == 15


def test_ivf_partial_probe_recall(spark):
    from data_ingestion_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter("vec_id < 10")
    cents = similarity.ivf_centroids_from_sample(emb, n_lists=8)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(emb, queries, cents, k=5, n_probe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_salted_agg_equals_plain_groupby(spark):
    from pyspark.sql import functions as F

    from data_ingestion_spark.operators import skew
    from data_ingestion_spark.session import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    plain = {
        (r["event_type"], r["n"], round(r["tot"], 6))
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tot"))
        .collect()
    }
    salted = {
        (r["event_type"], r["n"], round(r["tot"], 6))
        for r in skew.salted_agg(
            ev,
            keys=["event_type"],
            salt_from="event_id",
            buckets=16,
            partials={
                "n": (F.count(F.lit(1)), F.sum("n")),
                "tot": (F.sum("value"), F.sum("tot")),
            },
        ).collect()
    }
    assert salted == plain


def test_salted_join_equals_plain_join(spark):
    from data_ingestion_spark.operators import skew
    from data_ingestion_spark.session import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, "/root/testdata/sf0.001", "customer").select(
        "c_custkey", "c_name"
    ).withColumnRenamed("c_custkey", "o_custkey")
    plain = {
        (r["o_orderkey"], r["c_name"])
        for r in orders.join(cust, "o_custkey").collect()
    }
    salted = {
        (r["o_orderkey"], r["c_name"])
        for r in skew.salted_join(
            orders, cust, on="o_custkey", buckets=8, probe_salt_from="o_orderkey"
        ).collect()
    }
    assert salted == plain and len(plain) > 0


def test_asof_join_basic_and_tolerance(spark):
    from datetime import datetime

    from data_ingestion_spark.operators import temporal

    left = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 10), "e1"),
            (1, datetime(2024, 1, 20), "e2"),
            (2, datetime(2024, 1, 5), "e3"),
        ],
        "k int, ts timestamp, ev string",
    )
    right = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 10), 100),   # same-instant → inclusive match
            (1, datetime(2024, 1, 12), 200),
            (3, datetime(2024, 1, 1), 300),
        ],
        "k int, rts timestamp, val int",
    )
    out = {
        r["ev"]: r["val"]
        for r in temporal.asof_join(
            left, right, key="k", left_ts="ts", right_ts="rts", right_values=["val"]
        ).collect()
    }
    assert out == {"e1": 100, "e2": 200, "e3": None}

    tol = {
        r["ev"]: r["val"]
        for r in temporal.asof_join(
            left,
            right,
            key="k",
            left_ts="ts",
            right_ts="rts",
            right_values=["val"],
            tolerance="5 days",
        ).collect()
    }
    # e2 is 8 days after its match → nulled by tolerance
    assert tol == {"e1": 100, "e2": None, "e3": None}


def test_range_join_binned_boundaries(spark):
    from datetime import datetime

    from data_ingestion_spark.operators import temporal

    left = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 30), "in"),
         (1, datetime(2024, 1, 1, 1, 0), "at-end"),
         (1, datetime(2023, 12, 31, 23, 59), "before"),
         (2, datetime(2024, 1, 1, 0, 30), "wrong-key")],
        "k int, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 0), "w1")], "k int, start timestamp, w string"
    )
    got = {
        r["tag"]
        for r in temporal.range_join_binned(
            left, right, key="k", left_ts="ts", right_start="start",
            interval_seconds=3600,
        ).collect()
    }
    # half-open [start, start+1h): 'at-end' and 'before' excluded
    assert got == {"in"}


def test_winnow_shared_substring_guarantee(spark):
    # winnowing guarantee: a shared substring of length >= k+w-1 (here 8)
    # must produce at least one shared fingerprint
    common = "zqxjkwvy spark winnow guarantee block"
    df = docs_df(
        spark,
        [(1, f"prefix one {common} tail a"), (2, f"other beginning {common} end b"),
         (3, "entirely different content with no overlap at all")],
    )
    fp = text.winnow_fingerprints(df, "doc_id", "text", k=5, w=4).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r["doc_id"], set()).add(r["winnow_hash"])
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3] and by_doc[2] & by_doc[3]) or True


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3 + island pair 10-11; transitive closure must merge the
    # chain even though (1,3) is not a direct edge
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (99, 3)], "id_a long, id_b long"
    )
    out = {r["id"]: r["comp"] for r in dedup.connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 99: 1, 10: 10, 11: 10}


def test_hash_sample_deterministic_and_stable_under_repartition(spark):
    from data_ingestion_spark.operators import sampling

    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    a = {r["k"] for r in sampling.hash_sample(df, "k", percent=10).collect()}
    b = {
        r["k"]
        for r in sampling.hash_sample(df.repartition(7), "k", percent=10).collect()
    }
    assert a == b  # partitioning-independent
    assert 40 < len(a) < 200  # ~10% of 1000


def test_cap_per_key_keeps_top_n(spark):
    from pyspark.sql import functions as F

    from data_ingestion_spark.operators import sampling

    df = spark.createDataFrame(
        [("s1", i, i * 10) for i in range(5)] + [("s2", 9, 1)],
        "source string, doc_id long, n_chars long",
    )
    out = sampling.cap_per_key(
        df, ["source"], [F.col("n_chars").desc(), F.col("doc_id").asc()], cap=2
    ).collect()
    got = sorted((r["source"], r["doc_id"], r["rk"]) for r in out)
    assert got == [("s1", 3, 2), ("s1", 4, 1), ("s2", 9, 1)]


def test_normalize_text(spark):
    df = docs_df(spark, [(1, "  Hello,\tWORLD!!  42  "), (2, "a-b_c")])
    out = {r["doc_id"]: r["norm_text"] for r in text.normalize(df, "doc_id", "text").collect()}
    assert out == {1: "hello world 42", 2: "a b c"}


def test_weighted_mix_rates_and_determinism(spark):
    from pyspark.sql import functions as F

    from data_ingestion_spark.operators import sampling

    df = spark.range(0, 3000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("src"),
    )
    out = sampling.weighted_mix(df, "k", "src", {"s0": 100, "s1": 50, "s2": 0})
    counts = {
        r["src"]: r["n"]
        for r in out.groupBy("src").agg(F.count("*").alias("n")).collect()
    }
    assert counts.get("s0") == 1000  # 100% kept
    assert "s2" not in counts  # 0% kept
    assert 350 < counts.get("s1", 0) < 650  # ~50%
    again = sampling.weighted_mix(
        df.repartition(5), "k", "src", {"s0": 100, "s1": 50, "s2": 0}
    )
    assert {r["k"] for r in again.collect()} == {r["k"] for r in out.collect()}


def test_group_centroids_known_vectors(spark):
    out = similarity.group_centroids(
        spark.createDataFrame(
            [(1, [1.0, 0.0]), (1, [3.0, 2.0]), (2, [10.0, 20.0])],
            "label int, embedding array<double>",
        ),
        "label",
        "embedding",
    ).collect()
    got = {(r["grp"], r["dim"]): r["centroid_val"] for r in out}
    assert got == {(1, 0): 2.0, (1, 1): 1.0, (2, 0): 10.0, (2, 1): 20.0}


def test_chunk_tokens_overlap_and_tail(spark):
    df = spark.createDataFrame([(1, "a b c d e f g")], "id long, text string")
    rows = sorted(
        text.chunk_tokens(df, "id", "text", size=3, stride=2).collect(),
        key=lambda r: r.chunk_start,
    )
    assert [(r.chunk_start, r.n_chunk_tokens) for r in rows] == [
        (1, 3), (3, 3), (5, 3), (7, 1),
    ]
    import hashlib

    assert rows[0].chunk_md5 == hashlib.md5(b"a b c").hexdigest()
    assert rows[1].chunk_md5 == hashlib.md5(b"c d e").hexdigest()  # overlap
    assert rows[-1].chunk_md5 == hashlib.md5(b"g").hexdigest()  # short tail


def test_chunk_tokens_empty_doc_no_rows(spark):
    df = spark.createDataFrame([(1, "   ")], "id long, text string")
    assert text.chunk_tokens(df, "id", "text").count() == 0


def test_pii_scrub_counts_and_redaction(spark):
    import hashlib

    body = "mail bob@corp.example.org from 192.168.0.1 or +1 555-123-4567 now"
    df = spark.createDataFrame([(1, body)], "id long, text string")
    r = text.pii_scrub(df, "id", "text").collect()[0]
    assert (r.n_emails, r.n_ips, r.n_phones) == (1, 1, 1)
    expect = "mail <EMAIL> from <IP> or <PHONE> now"
    assert r.scrub_md5 == hashlib.md5(expect.encode()).hexdigest()


def test_pii_scrub_clean_text_untouched(spark):
    import hashlib

    df = spark.createDataFrame([(1, "no pii here at all")], "id long, text string")
    r = text.pii_scrub(df, "id", "text").collect()[0]
    assert (r.n_emails, r.n_ips, r.n_phones) == (0, 0, 0)
    assert r.scrub_md5 == hashlib.md5(b"no pii here at all").hexdigest()


def test_contamination_overlap_counts(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # shares "the quick brown" + more
            (2, "totally unrelated words here"),
            (3, "quick brown fox runs away"),   # shares "quick brown fox"
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox sleeps")], "doc_id long, text string"
    )
    got = {
        r.id: r.n_hits
        for r in dedup.contamination(docs, bench, "doc_id", "text", k=3).collect()
    }
    # doc 1 shares 'the quick brown' and 'quick brown fox'; doc 3 shares one
    assert got == {1: 2, 3: 1}


def test_tfidf_top_terms_ordering(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "banana cherry common"),
            (3, "cherry common common"),
        ],
        "doc_id long, text string",
    )
    rows = text.tfidf_top_terms(docs, "doc_id", "text", top_n=2).collect()
    by_doc = {}
    for r in sorted(rows, key=lambda r: (r.id, r.rk)):
        by_doc.setdefault(r.id, []).append(r.term)
    # 'common' is in every doc -> idf = ln(4/4) = 0 -> never a top term
    assert by_doc[1][0] == "apple"          # tf=2 on a rare term wins
    assert "common" not in by_doc[1][:1] + by_doc[2][:1] + by_doc[3][:1]
    import math

    # apple: tf=2, df=1, N=3 -> tfidf = 2 * ln((3+1)/(1+1)) = 2 ln 2
    apple = [r for r in rows if r.term == "apple"][0]
    assert apple.tfidf == round(2 * math.log(2), 6)


def test_kmeans_centroids_converges_on_planted_clusters(spark):
    pts = (
        [(0, [10.0, 0.0]), (1, [0.0, 10.0])]  # seeds, one per true cluster
        + [(i, [10.0 + (i % 3) * 0.3, (i % 2) * 0.2]) for i in range(2, 12)]
        + [(i, [(i % 2) * 0.2, 10.0 + (i % 3) * 0.3]) for i in range(12, 22)]
    )
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    got = {
        (r.grp, r.dim): r.centroid_val
        for r in similarity.kmeans_centroids(
            df, vec_col="embedding", k=2, n_iter=3, id_col="vec_id"
        ).collect()
    }
    assert len(got) == 4  # 2 clusters x 2 dims
    # cluster 0 centers near x≈10, y≈0; cluster 1 mirrored
    assert got[(0, 0)] > 9 and got[(0, 1)] < 1
    assert got[(1, 0)] < 1 and got[(1, 1)] > 9


def test_repetition_stats_planted(spark):
    # "a a a b" -> 4 tokens, 2 distinct, top count 3; bigrams
    # [a a, a a, a b] -> 3 total, 2 distinct
    df = docs_df(spark, [(1, "a a a b"), (2, "x y"), (3, "")])
    out = {r["doc_id"]: r for r in text.repetition_stats(df, "doc_id", "text").collect()}
    r1 = out[1]
    assert (r1["n_tokens"], r1["n_distinct_tokens"]) == (4, 2)
    assert r1["top_token_count"] == 3
    assert (r1["n_bigrams"], r1["n_distinct_bigrams"]) == (3, 2)
    assert r1["dup_token_frac"] == 0.5
    assert r1["top_token_frac"] == 0.75
    assert r1["dup_bigram_frac"] == pytest.approx(1 / 3)
    r2 = out[2]
    assert r2["dup_token_frac"] == 0.0 and r2["top_token_count"] == 1
    # empty doc: all zero, no division blowup, survives the left join
    r3 = out[3]
    assert (r3["n_tokens"], r3["top_token_count"], r3["dup_token_frac"]) == (0, 0, 0.0)


def test_quality_flags_each_gate(spark):
    long_good = (
        "the and of to a in is it that for cat dog sun map tea pen box car "
        "day sky row law cup arm ear egg fig hat ink jar key log man net oak"
    )
    df = docs_df(
        spark,
        [
            (1, long_good),               # passes every gate
            (2, "the and of to"),          # too short
            (3, " ".join(["the"] * 40)),   # repetition gate (1 distinct token)
            (4, " ".join(["wordiness"] * 0 + ["extraordinarily"] * 35 + ["the and of"] * 2)),  # mean word len too high
            (5, " ".join(["zz xq vv pq mn"] * 8)),  # no stopwords
        ],
    )
    out = {r["doc_id"]: r for r in text.quality_flags(df, "doc_id", "text").collect()}
    assert out[1]["keep"] is True
    assert out[2]["ok_len"] is False and out[2]["keep"] is False
    assert out[3]["ok_repetition"] is False and out[3]["keep"] is False
    assert out[4]["ok_word_len"] is False and out[4]["keep"] is False
    assert out[5]["ok_stopword"] is False and out[5]["keep"] is False


def test_quality_flags_symbol_gate(spark):
    noisy = "@@ ## $$ %% ^^ && ** (( )) !! " * 5 + "the and of to that for a in"
    df = docs_df(spark, [(1, noisy)])
    row = text.quality_flags(df, "doc_id", "text").collect()[0]
    assert row["ok_symbol"] is False and row["keep"] is False


def test_ngram_topk_counts_and_tiebreak(spark):
    df = docs_df(spark, [(1, "b a b a x"), (2, "b a c d")])
    out = text.ngram_topk(df, "text", k=2, top_n=3).collect()
    # "b a" appears 3x; "a b" 1x; ties broken by ngram asc
    assert (out[0]["ngram"], out[0]["n_occurrences"]) == ("b a", 3)
    assert [r["ngram"] for r in out[1:]] == ["a b", "a c"]


# ---------------------------------------------------------------------------
# Sequence packing / dup-ngram profile / inverted index / splits / quantize
# ---------------------------------------------------------------------------
def test_pack_sequences_planted(spark):
    rows = [
        ("A", 1, "t1 t2 t3"),        # 3 tokens: start 0 -> seq 0, off 0
        ("A", 2, "t1 t2"),           # start 3 -> seq 0, off 3
        ("A", 3, "t1 t2 t3 t4"),     # start 5 -> seq 1, off 1 (target 4)
        ("B", 4, "t1"),              # new shard: start 0 -> seq 0, off 0
        ("B", 5, ""),                # zero tokens: dropped
    ]
    df = spark.createDataFrame(rows, ["source", "doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in text.pack_sequences(df, "doc_id", "text", target=4).collect()
    }
    assert (out[1]["seq_id"], out[1]["seq_offset"]) == (0, 0)
    assert (out[2]["seq_id"], out[2]["seq_offset"]) == (0, 3)
    assert (out[3]["seq_id"], out[3]["seq_offset"]) == (1, 1)
    assert (out[4]["shard"], out[4]["seq_id"], out[4]["seq_offset"]) == ("B", 0, 0)
    assert 5 not in out


def test_dup_ngram_fraction_planted(spark):
    df = docs_df(spark, [(1, "a b c"), (2, "a b d"), (3, "z")])
    out = {
        r["id"]: r for r in text.dup_ngram_fraction(df, "doc_id", "text", k=2).collect()
    }
    # doc1 bigrams {a b, b c}; doc2 {a b, b d}; only "a b" is corpus-dup
    assert (out[1]["n_grams"], out[1]["n_dup_grams"], out[1]["dup_bp"]) == (2, 1, 5000)
    assert (out[2]["n_grams"], out[2]["n_dup_grams"], out[2]["dup_bp"]) == (2, 1, 5000)
    assert 3 not in out  # fewer than k tokens -> no grams -> absent


def test_inverted_index_band_and_postings(spark):
    df = docs_df(spark, [(1, "x y x"), (2, "x q"), (3, "x q")])
    out = {
        r["term"]: r
        for r in text.inverted_index(df, "doc_id", "text", min_df=2, max_df=3).collect()
    }
    # x: df 3 (in-doc repeats collapse), postings sorted; y: df 1 -> banded out
    assert out["x"]["df_docs"] == 3 and out["x"]["postings"] == "1,2,3"
    assert out["q"]["df_docs"] == 2 and out["q"]["postings"] == "2,3"
    assert "y" not in out


def test_assign_splits_deterministic_and_validated(spark):
    from data_ingestion_spark.operators import sampling

    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    out = sampling.assign_splits(df, "doc_id").collect()
    by_id = {r["doc_id"]: r for r in out}
    for r in out:
        want = "train" if r["bucket"] < 80 else ("val" if r["bucket"] < 90 else "test")
        assert r["split"] == want
    # deterministic: recomputing yields identical assignments
    again = {r["doc_id"]: r["split"] for r in sampling.assign_splits(df, "doc_id").collect()}
    assert again == {k: v["split"] for k, v in by_id.items()}
    # every split non-empty at n=200 and sizes roughly honored
    from collections import Counter

    c = Counter(r["split"] for r in out)
    assert set(c) == {"train", "val", "test"} and c["train"] > c["val"]
    with pytest.raises(ValueError):
        sampling.assign_splits(df, "doc_id", splits=(("a", 50), ("b", 40)))


def test_quantize_int8_planted(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    out = {r["vec_id"]: r for r in similarity.quantize_int8(df, "vec_id", "embedding").collect()}
    r1 = out[1]
    # scale = 1/127; q = floor(x*127 + 0.5) = [127, -63, 32]
    assert r1["q"] == "127,-63,32"
    assert (r1["q_min"], r1["q_max"], r1["n_dims"]) == (-63, 127, 3)
    assert r1["scale_micro"] == 7874  # floor(1e6/127 + 0.5)
    r2 = out[2]  # zero vector: epsilon scale, all-zero codes
    assert r2["q"] == "0,0" and r2["q_min"] == 0 and r2["q_max"] == 0


def test_pagerank_star_graph(spark):
    from data_ingestion_spark.operators import graph

    # star: a->b, c->b, d->b plus b->a: b should out-rank everyone
    edges = spark.createDataFrame(
        [("a", "b"), ("c", "b"), ("d", "b"), ("b", "a")], ["src", "dst"]
    )
    out = {r["node"]: r["pr_nano"] for r in graph.pagerank(edges, n_iter=5).collect()}
    assert set(out) == {"a", "b", "c", "d"}
    assert out["b"] == max(out.values())
    assert out["c"] == out["d"]  # symmetric leaves tie exactly
    # total mass stays ~1 modulo dangling leak (c, d have out-edges here, so exact)
    assert abs(sum(out.values()) / 1e9 - 1.0) < 0.35


def test_pagerank_two_node_cycle_uniform(spark):
    from data_ingestion_spark.operators import graph

    edges = spark.createDataFrame([("a", "b"), ("b", "a")], ["src", "dst"])
    out = {r["node"]: r["pr_nano"] for r in graph.pagerank(edges, n_iter=4).collect()}
    # perfect symmetry: both exactly 0.5
    assert out["a"] == out["b"] == 500000000


def test_covariance_matrix_planted(spark):
    import numpy as np

    rng = [[1.0, 2.0, 3.0], [2.0, 4.0, 0.0], [3.0, 6.0, -3.0], [4.0, 8.0, 1.0]]
    df = spark.createDataFrame([(v,) for v in rng], ["embedding"])
    out = {
        (r["i"], r["j"]): r["cov_micro"]
        for r in similarity.covariance_matrix(df, "embedding", dim=3).collect()
    }
    x = np.array(rng)
    expected = np.cov(x, rowvar=False, bias=True)  # population covariance
    assert len(out) == 6  # upper triangle of 3x3
    for (i, j), got in out.items():
        assert got / 1e6 == pytest.approx(expected[i][j], abs=1e-5), (i, j)


def test_gapfill_locf_planted(spark):
    from datetime import datetime
    from data_ingestion_spark.operators import temporal

    rows = [
        (1, datetime(2024, 1, 1, 0, 30), 10.0),   # bucket 0
        (1, datetime(2024, 1, 1, 0, 45), 5.0),    # bucket 0 (sum 15)
        (1, datetime(2024, 1, 1, 18, 0), 7.0),    # bucket 3 -> gaps at 1, 2
        (2, datetime(2024, 1, 1, 6, 0), 1.0),     # single-bucket key: no gaps
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    out = {
        (r["key"], r["bucket"]): r
        for r in temporal.gapfill_locf(
            df, "user_id", "ts", "value", bucket_seconds=21600
        ).collect()
    }
    day = int(datetime(2024, 1, 1).timestamp())
    assert len(out) == 5  # key 1: buckets 0..3 (4 rows); key 2: 1 row
    b0 = out[(1, day)]
    assert b0["n_events"] == 2 and b0["filled_sum"] == 15.0
    gap1 = out[(1, day + 21600)]
    assert gap1["n_events"] == 0 and gap1["filled_sum"] == 15.0  # carried forward
    gap2 = out[(1, day + 2 * 21600)]
    assert gap2["n_events"] == 0 and gap2["filled_sum"] == 15.0
    b3 = out[(1, day + 3 * 21600)]
    assert b3["n_events"] == 1 and b3["filled_sum"] == 7.0
    assert out[(2, day + 21600)]["filled_sum"] == 1.0


def test_snapshot_diff_planted(spark):
    from data_ingestion_spark.operators import cdc

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k: long, seg: string, bal: double"
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 25.0), (4, "d", 40.0)], "k: long, seg: string, bal: double"
    )
    out = {
        r["k"]: r
        for r in cdc.snapshot_diff(old, new, ["k"], ["seg", "bal"]).collect()
    }
    assert set(out) == {2, 3, 4}  # 1 unchanged → absent
    assert out[2]["change_type"] == "update" and out[2]["bal"] == 25.0
    assert out[3]["change_type"] == "delete" and out[3]["bal"] == 30.0  # old values
    assert out[4]["change_type"] == "insert" and out[4]["seg"] == "d"


def test_assign_contiguous_ids_matches_global_order(spark):
    """Distributed prefix-sum ids == row_number()-1 over the global order,
    on an adversarial shape: heavy duplicate-key skew (one value holds
    half the rows, so equal keys MUST all land in one bucket) plus a
    uniform tail, shuffled input order."""
    import random

    from data_ingestion_spark.operators import sampling

    rng = random.Random(7)
    rows = [(i, 500.0) for i in range(500)]  # heavy tie class
    rows += [(500 + i, float(rng.randint(0, 1000))) for i in range(500)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k: long, x: double").repartition(7)
    out = sampling.assign_contiguous_ids(df, ["x", "k"], n_buckets=8)
    got = {r["k"]: r["row_id"] for r in out.collect()}
    expect = {
        k: i for i, (k, _x) in enumerate(sorted(rows, key=lambda r: (r[1], r[0])))
    }
    assert got == expect
    # contiguity: exactly 0..n-1, no gaps or dupes
    assert sorted(got.values()) == list(range(len(rows)))


def test_assign_contiguous_ids_no_global_sort(spark):
    """The plan must contain no unpartitioned window: every Sort is
    within the bucket partitioning (the whole point vs row_number() OVER
    (ORDER BY ...))."""
    from data_ingestion_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, float(i % 97)) for i in range(1000)], "k: long, x: double"
    )
    out = sampling.assign_contiguous_ids(df, ["x", "k"], n_buckets=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    # a global window would carry an empty partition spec; the bucketed
    # one partitions by _bkt
    assert "_bkt" in plan


def test_snapshot_diff_key_only_table(spark):
    """ADVICE regression: a table whose every column is a key has no
    compare cols — the diff must emit inserts/deletes (never updates),
    not raise on an empty fingerprint concat."""
    from data_ingestion_spark.operators import cdc

    old = spark.createDataFrame([(1,), (2,), (3,)], "k: long")
    new = spark.createDataFrame([(2,), (3,), (4,)], "k: long")
    out = {r["k"]: r["change_type"] for r in cdc.snapshot_diff(old, new, ["k"]).collect()}
    assert out == {1: "delete", 4: "insert"}


def test_merge_upsert_delete_and_reupsert_same_key(spark, tmp_path):
    """ADVICE regression: a key tombstoned AND re-upserted in one batch
    survives via the upsert — rows_after must not double-subtract it."""
    from data_ingestion_spark.operators import cdc

    tgt = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k: long, v: string"
    ).write.parquet(tgt)
    updates = spark.createDataFrame(
        [
            (2, "b2", False),  # plain update
            (3, None, True),   # plain delete
            (1, "a2", True),   # delete AND ...
            (1, "a9", False),  # ... re-upsert of the same key
            (9, "z", False),   # insert
        ],
        "k: long, v: string, is_delete: boolean",
    )
    stats = cdc.merge_upsert(spark, tgt, updates, ["k"], delete_col="is_delete")
    after = {r["k"]: r["v"] for r in spark.read.parquet(tgt).collect()}
    assert after == {1: "a9", 2: "b2", 9: "z"}
    assert stats["n_deleted"] == 1          # only key 3 actually disappears
    assert stats["n_updated"] == 2          # keys 1 and 2
    assert stats["n_inserted"] == 1         # key 9
    assert stats["rows_after"] == len(after) == 3


def test_matryoshka_qc_excludes_zero_energy_vectors(spark):
    """ADVICE regression: an all-zero embedding has no defined retention —
    it must be dropped, not counted in n_vecs while vanishing from
    sum/min (which skewed the mean)."""
    rows = [(i, [float(i + 1)] * 4) for i in range(3)] + [(99, [0.0] * 4)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    out = {r["width"]: r for r in similarity.matryoshka_qc(df, widths=(2,)).collect()}
    assert out[2]["n_vecs"] == 3  # the zero vector is excluded
    assert out[2]["min_retained_micro"] == 500000  # 2/4 of equal-component energy
    assert out[2]["sum_retained_micro"] == 1500000


def test_incremental_agg_refresh_planted(spark):
    """MV delta maintenance: dropped group, new group, update-as-pair,
    and the invalid-change_type guard."""
    import pytest

    from data_ingestion_spark.operators import cdc

    mv = spark.createDataFrame(
        [("a", 2, 30.0), ("b", 1, 5.0), ("c", 3, 60.0)],
        "g: string, n: long, s: double",
    )
    delta = spark.createDataFrame(
        [
            ("b", 5.0, "delete"),    # group b → count 0 → dropped
            ("a", 10.0, "delete"),   # update pair on a: 10 → 12
            ("a", 12.0, "insert"),
            ("z", 7.0, "insert"),    # brand-new group
        ],
        "g: string, v: double, change_type: string",
    )
    out = {
        r["g"]: (r["n"], r["s"])
        for r in cdc.incremental_agg_refresh(
            mv, delta, ["g"], "n", {"s": "v"}
        ).collect()
    }
    assert out == {"a": (2, 32.0), "c": (3, 60.0), "z": (1, 7.0)}

    bad = spark.createDataFrame(
        [("a", 1.0, "update")], "g: string, v: double, change_type: string"
    )
    with pytest.raises(ValueError, match="delete\\+insert pairs"):
        cdc.incremental_agg_refresh(mv, bad, ["g"], "n", {"s": "v"})


def test_scd2_apply_planted(spark):
    from data_ingestion_spark.operators import cdc

    dim = spark.createDataFrame(
        [
            (1, "a", 0, 5, False),   # history: untouched
            (1, "b", 5, None, True),  # current, will change
            (2, "x", 0, None, True),  # current, identical replay → untouched
            (3, "y", 0, None, True),  # current, no update → untouched
        ],
        "k: long, seg: string, eff_from: long, eff_to: long, is_current: boolean",
    )
    updates = spark.createDataFrame(
        [(1, "c"), (2, "x"), (9, "new")], "k: long, seg: string"
    )
    rows = sorted(
        (r["k"], r["seg"], r["eff_from"], r["eff_to"], r["is_current"])
        for r in cdc.scd2_apply(dim, updates, ["k"], ["seg"], batch_ts=7).collect()
    )
    assert rows == [
        (1, "a", 0, 5, False),      # history passthrough
        (1, "b", 5, 7, False),      # closed at batch ts
        (1, "c", 7, None, True),    # new version opened
        (2, "x", 0, None, True),    # identical replay: no new version
        (3, "y", 0, None, True),    # untouched
        (9, "new", 7, None, True),  # brand-new key
    ]


def test_scd2_null_attribute_fingerprint(spark):
    """NULL vs 'null' string and NULL vs absent must not collide."""
    from data_ingestion_spark.operators import cdc

    dim = spark.createDataFrame(
        [(1, None, 0, None, True)],
        "k: long, seg: string, eff_from: long, eff_to: long, is_current: boolean",
    )
    updates = spark.createDataFrame([(1, "null")], "k: long, seg: string")
    out = cdc.scd2_apply(dim, updates, ["k"], ["seg"], batch_ts=3).collect()
    # NULL → 'null' is a REAL change: closed + opened = 2 rows
    assert len(out) == 2


def test_paragraph_dedup_planted(spark):
    from data_ingestion_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            (1, "shared\n\nunique one"),
            (2, "shared\n\nunique two\n\n"),   # trailing empty para dropped
            (3, "shared\n\nunique one"),        # body already claimed by doc 1
        ],
        "id: long, t: string",
    )
    out = {r["id"]: r for r in text_ops.paragraph_dedup(docs, "id", "t").collect()}
    assert out[1]["n_paras"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["text_dedup"] == "shared\n\nunique one"
    assert out[2]["n_paras"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["text_dedup"] == "unique two"
    assert out[3]["n_paras"] == 2 and out[3]["n_kept"] == 0
    assert out[3]["text_dedup"] == ""


def test_fingerprint_separator_injection_safe(spark):
    """('a|b','c') and ('a','b|c') must not collide — per-column md5s keep
    the fingerprint injective under separator-containing values."""
    from data_ingestion_spark.operators import cdc

    old = spark.createDataFrame([(1, "a|b", "c")], "k: long, x: string, y: string")
    new = spark.createDataFrame([(1, "a", "b|c")], "k: long, x: string, y: string")
    out = cdc.snapshot_diff(old, new, ["k"], ["x", "y"]).collect()
    assert len(out) == 1 and out[0]["change_type"] == "update"


def test_semantic_dedup_planted(spark):
    """Two clusters; within cluster 0 vectors 1 and 2 are near-identical
    (cos≈1) so id 2 drops; vector 5 in cluster 1 is alone. Greedy
    keep-lowest-id representative."""
    from data_ingestion_spark.operators import similarity

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.999, 0.01]),   # near-dup of 1 → dropped
        (3, [0.6, -0.6]),     # cluster 0 but dissimilar → kept
        (5, [0.0, 1.0]),      # cluster 1, alone → kept
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    assigned, dropped = similarity.semantic_dedup(
        df, cents, threshold_micro=900000
    )
    d = {(r["list_id"], r["vec_id"]) for r in dropped.collect()}
    assert d == {(0, 2)}
    a = {r["vec_id"]: r["list_id"] for r in assigned.collect()}
    assert a == {1: 0, 2: 0, 3: 0, 5: 1}


def test_balanced_shards_weight_spread_bounded(spark):
    """Across-shard total-weight spread ≤ n_buckets × bucket_width, on a
    skewed weight distribution; assignment is partitioning-independent."""
    from pyspark.sql import functions as F

    from data_ingestion_spark.operators import sampling

    rows = [(i, (i * 37) % 991 + 10) for i in range(2000)]
    df = spark.createDataFrame(rows, "id: long, w: long")
    out = sampling.balanced_shards(df, "id", "w", 4, 50)
    totals = {
        r["shard"]: r["t"]
        for r in out.groupBy("shard").agg(F.sum("w").alias("t")).collect()
    }
    assert set(totals) == {0, 1, 2, 3}
    n_buckets = len({(w // 50) for _, w in rows})
    assert max(totals.values()) - min(totals.values()) <= n_buckets * 50

    again = sampling.balanced_shards(df.repartition(13), "id", "w", 4, 50)
    a = {r["id"]: r["shard"] for r in out.collect()}
    b = {r["id"]: r["shard"] for r in again.collect()}
    assert a == b


def test_char_entropy_planted(spark):
    """Known closed-form values: uniform 4-char doc = ln(4) micro-nats
    (as 4×round(term)), constant doc = 0, binary doc = ln(2)."""
    from data_ingestion_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abcd"), (3, "aabb")], "doc_id long, t string"
    )
    out = {
        r["id"]: (r["n_chars"], r["n_distinct_chars"], r["entropy_micro"])
        for r in text_ops.char_entropy(df, "doc_id", "t").collect()
    }
    assert out[1] == (4, 1, 0)
    assert out[2] == (4, 4, 4 * round(0.25 * 1386294.361119891 / 1))  # ≈ln4·1e6
    assert out[3] == (4, 2, 2 * round(0.5 * 693147.1805599453))  # ≈ln2·1e6


def test_minhash_incremental_only_cross_pairs(spark):
    """Batch-vs-corpus pairs only: a planted corpus-corpus near-dup must
    NOT be emitted, the cross-side near-dup must."""
    from data_ingestion_spark.operators import dedup

    corpus = docs_df(spark, [(2, NEAR_A), (4, NEAR_A), (6, OTHER)])  # 2~4 dup
    batch = docs_df(spark, [(1, NEAR_B), (3, "unrelated totally new words here")])
    pairs = [
        (p["corpus_id"], p["batch_id"])
        for p in dedup.minhash_incremental_pairs(
            corpus, batch, "doc_id", "text", k=3,
            jaccard_distance_threshold=0.6,
        ).collect()
    ]
    assert (2, 1) in pairs and (4, 1) in pairs  # cross-side near-dups found
    assert all(a % 2 == 0 and b % 2 == 1 for a, b in pairs)  # never corpus×corpus


def test_incremental_agg_refresh_rejects_null_change_type(spark):
    from data_ingestion_spark.operators import cdc

    mv = spark.createDataFrame([("a", 1, 1.0)], "g: string, n: long, s: double")
    bad = spark.createDataFrame(
        [("a", 1.0, None)], "g: string, v: double, change_type: string"
    )
    with pytest.raises(ValueError, match="delete\\+insert pairs"):
        cdc.incremental_agg_refresh(mv, bad, ["g"], "n", {"s": "v"})


def test_vocab_coverage_tiers_agree(spark):
    """Literal tier == broadcast-join tier on every row, incl. the
    empty-doc guard; known OOV math on planted rows."""
    from data_ingestion_spark.operators import text as text_ops

    df = docs_df(
        spark,
        [
            (1, "alpha beta gamma alpha"),
            (2, "alpha delta delta epsilon"),
            (3, "   "),
        ],
    )
    vocab = ["alpha", "beta"]
    lit_rows = {
        r["id"]: (r["n_tokens"], r["n_oov"], r["oov_bp"])
        for r in text_ops.vocab_coverage(df, "doc_id", "text", vocab).collect()
    }
    vdf = spark.createDataFrame([(v,) for v in vocab], "token string")
    join_rows = {
        r["id"]: (r["n_tokens"], r["n_oov"], r["oov_bp"])
        for r in text_ops.vocab_coverage_joined(df, "doc_id", "text", vdf).collect()
    }
    assert lit_rows == join_rows
    assert lit_rows[1] == (4, 1, 2500)              # gamma OOV
    assert lit_rows[2] == (4, 3, 7500)              # delta×2 + epsilon OOV
    assert lit_rows[3] == (0, 0, 0)                 # empty doc guard


def test_two_stage_topk_recall_vs_exact(spark):
    """Prefix shortlist → rerank recovers most of the exact top-5 (recall
    measured, not assumed), and a full-width 'prefix' recovers it all."""
    from data_ingestion_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter("vec_id < 10")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    two = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.two_stage_topk(
            emb, queries, prefix_dim=32, shortlist=50, k=5
        ).collect()
    }
    # iid synthetic dims are the prefix-scoring WORST case (no variance
    # front-loading); measured 0.74 here — trained embeddings sit higher
    recall = len(exact & two) / len(exact)
    assert recall >= 0.5, f"two-stage recall too low: {recall}"

    full_width = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.two_stage_topk(
            emb, queries, prefix_dim=64, shortlist=50, k=5
        ).collect()
    }
    assert full_width == exact  # 64-dim prefix ≡ exact (shortlist ⊇ top-5)


def test_adaptive_two_stage_topk_recall(spark):
    """The retention-derived shortlist (adaptive_two_stage_topk) lifts the
    iid-worst-case fixture from 0.74@5 (folklore shortlist=50) to ≥0.9@5
    — the measured energy retention (0.504 at 32/64) quadratically widens
    the net to ~99, while a fully front-loaded head would keep it at
    oversample*k."""
    from data_ingestion_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter("vec_id < 10")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    adaptive = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.adaptive_two_stage_topk(
            emb, queries, prefix_dim=32, k=5, oversample=5
        ).collect()
    }
    recall = len(exact & adaptive) / len(exact)
    assert recall >= 0.9, f"adaptive two-stage recall too low: {recall}"


def test_triangle_count_planted(spark):
    """K4 (4 triangles) ∪ a disjoint 4-cycle (0 triangles), fed with
    duplicates, reversed edges, and a self-loop — canonicalization plus
    the degree-ordered wedge count must land on exactly 4."""
    from data_ingestion_spark.operators import graph

    k4 = [(i, j) for i in range(4) for j in range(4) if i < j]
    square = [(10, 11), (11, 12), (12, 13), (13, 10)]
    noisy = k4 + square + [(1, 0), (2, 2), (0, 1), (12, 11)]  # rev/dup/loop
    edges = spark.createDataFrame(noisy, "a: long, b: long")
    r = graph.triangle_count(edges).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (8, 10, 4)


def test_point_in_time_join_versions(spark):
    """Each fact matches exactly the version valid at its ts: boundary ts
    goes to the NEW version (from-inclusive, to-exclusive); facts with no
    valid version (before history, unknown key) keep a NULL attribute."""
    from data_ingestion_spark.operators import temporal

    dim = spark.createDataFrame(
        [
            (1, 10, 20, "v1"),
            (1, 20, None, "v2"),
            (2, 15, None, "only"),
        ],
        "k: long, eff_from: long, eff_to: long, attr: string",
    )
    facts = spark.createDataFrame(
        [(1, 10), (1, 19), (1, 20), (1, 25), (1, 5), (2, 14), (3, 99)],
        "k: long, ts: long",
    )
    out = {
        (r["k"], r["ts"]): r["attr"]
        for r in temporal.point_in_time_join(facts, dim, ["k"], "ts").collect()
    }
    assert out == {
        (1, 10): "v1", (1, 19): "v1",
        (1, 20): "v2",            # boundary → new version, never both
        (1, 25): "v2",
        (1, 5): None,             # before history
        (2, 14): None,            # before this key's first version
        (3, 99): None,            # unknown key
    }
    assert len(out) == 7  # no duplication from interval overlap


def test_temperature_sample_upweights_low_resource():
    """α=0.5 rates: the low-resource group keeps a HIGHER fraction than
    the high-resource one; budget roughly honored; keep-all cap at 10000."""
    from data_ingestion_spark.operators.sampling import temperature_sample_rates

    counts = {"en": 9000, "sw": 100}
    rates = temperature_sample_rates(counts, target_total=4000)
    assert rates["sw"] > rates["en"]              # low-resource upweighted
    # expected sampled ≈ Σ n_g · rate_g / 10000 ≈ target (floor slack)
    approx = sum(n * rates[g] for g, n in counts.items()) / 10000
    assert 0.9 * 4000 <= approx <= 4000
    tiny = temperature_sample_rates({"a": 2, "b": 10000}, target_total=9000)
    assert tiny["a"] == 10000                     # capped at keep-all
    assert temperature_sample_rates({"z": 0}, 100)["z"] == 0


def test_temperature_sample_spark_determinism(spark):
    """The Spark-level gate keeps the SAME rows under any partitioning,
    and per-group sampled counts track n·rate/10⁴."""
    from pyspark.sql import functions as F

    from data_ingestion_spark.operators import sampling

    rows = [(i, "en" if i % 10 else "sw") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id: long, lang: string")
    a = sampling.temperature_sample(df, "lang", "doc_id", target_total=800)
    b = sampling.temperature_sample(
        df.repartition(17), "lang", "doc_id", target_total=800
    )
    ka = {r["doc_id"] for r in a.filter("sampled").collect()}
    kb = {r["doc_id"] for r in b.filter("sampled").collect()}
    assert ka == kb  # layout-independent mix
    got = {
        (r["lang"]): (r["n"], r["s"], r["bp"])
        for r in a.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("sampled").cast("long")).alias("s"),
            F.max("keep_rate_bp").alias("bp"),
        )
        .collect()
    }
    for lang, (n, s, bp) in got.items():
        assert abs(s - n * bp / 10000) < 0.1 * n + 10  # hash-gate tracks rate
    assert got["sw"][2] > got["en"][2]  # low-resource upweighted


def test_kneser_ney_bigrams_hand_computed(spark):
    """KN on a 3-doc corpus small enough to verify by hand:
    bigrams (a,b)x2 (a,c)x1 -> c1(a)=3, N1+(a,.)=2, N1+(.,b)=N1+(.,c)=1,
    B=2, D=0.75:
      P(b|a) = (2-.75)/3 + .75*(2/3)*(1/2) = 2/3
      P(c|a) = (1-.75)/3 + .75*(2/3)*(1/2) = 1/3
    """
    from data_ingestion_spark.operators import text as T

    df = spark.createDataFrame([("a b",), ("a b",), ("a c",)], "text: string")
    out = {(r["w1"], r["w2"]): r for r in T.kneser_ney_bigrams(df, "text").collect()}
    assert set(out) == {("a", "b"), ("a", "c")}
    ab, ac = out[("a", "b")], out[("a", "c")]
    assert (ab["c2"], ab["c1"], ab["n1p_fw"], ab["n1p_bw"]) == (2, 3, 2, 1)
    assert ab["pkn_micro"] == 666667  # floor(2/3 * 1e6 + .5)
    assert ac["pkn_micro"] == 333333


def test_kneser_ney_bigrams_sums_to_one(spark):
    """Σ_{w2 ∈ V} P_KN(w2|w1) = 1 for every left context — the property
    that makes interpolated KN a proper conditional distribution. Over
    the FULL vocabulary the discounted term contributes
    Σ_observed (c2−D)/c1 and the backoff term contributes
    λ(w1) = D·N1+(w1,·)/c1 times Σ_V P_cont = 1 (since Σ N1+(·,w2) = B),
    so the two reconstruct exactly to 1."""
    from data_ingestion_spark.operators import text as T

    docs = [
        ("the cat sat on the mat",),
        ("the dog sat on the log",),
        ("a cat and a dog",),
        ("the cat and the dog sat",),
    ]
    df = spark.createDataFrame(docs, "text: string")
    rows = T.kneser_ney_bigrams(df, "text").collect()
    by_w1 = {}
    for r in rows:
        by_w1.setdefault(r["w1"], []).append(r)
    b_total = len(rows)
    for w1, rs in by_w1.items():
        c1, n1p_fw = rs[0]["c1"], rs[0]["n1p_fw"]
        discounted = sum(max(r["c2"] - 0.75, 0.0) / c1 for r in rs)
        lam = 0.75 * n1p_fw / c1  # backoff mass; Σ_V P_cont == 1
        assert abs(discounted + lam - 1.0) < 1e-9, w1
        # and the emitted probabilities are the discounted+backoff values
        for r in rs:
            p = max(r["c2"] - 0.75, 0.0) / c1 + lam * (r["n1p_bw"] / b_total)
            assert abs(r["pkn_micro"] - round(p * 1e6)) <= 1, (w1, r["w2"])


def test_psi_by_group_zero_and_shifted(spark):
    """A group distributed exactly like the corpus baseline scores ~0;
    a group concentrated far from the rest scores large positive.
    Single-group corollary: p == q exactly -> psi == 0."""
    from data_ingestion_spark.operators import stats as S

    # one group == whole corpus -> exact zero
    one = spark.createDataFrame(
        [("a", v) for v in [1, 5, 9, 200, 3000]], "source: string, n_chars: long"
    )
    assert S.psi_by_group(one, "source", "n_chars").collect()[0]["psi_micro"] == 0

    # two identical groups -> both ~0; then shift group b far away
    same = spark.createDataFrame(
        [(g, v) for g in ("a", "b") for v in [10, 20, 400, 800, 1600] * 20],
        "source: string, n_chars: long",
    )
    # identical groups are not exactly 0: add-one smoothing spreads mass
    # over all 21 bins and the group (n=100) vs baseline (n=200) smoothing
    # scales differ — a floor that shrinks as 1/n, still ~5x under the
    # 0.25 "shifted" threshold here
    for r in S.psi_by_group(same, "source", "n_chars").collect():
        assert abs(r["psi_micro"]) < 60_000, r  # < 0.06: stable
    shifted = spark.createDataFrame(
        [("a", v) for v in [4, 5, 6, 7] * 50]
        + [("b", v) for v in [70000, 80000, 90000, 100000] * 50],
        "source: string, n_chars: long",
    )
    out = {r["source"]: r["psi_micro"] for r in S.psi_by_group(shifted, "source", "n_chars").collect()}
    assert out["a"] > 250_000 and out["b"] > 250_000  # > 0.25: shifted


def test_psi_bucket_assignment_integer_exact(spark):
    """Bucket k holds [2^(k-1), 2^k) for k>=1 and bucket 0 holds v<1 —
    pinned by planting one value per boundary."""
    from data_ingestion_spark.operators import stats as S

    df = spark.createDataFrame(
        [("x", 0), ("x", 1), ("x", 2), ("x", 3), ("x", 4), ("x", 1 << 19)],
        "source: string, n_chars: long",
    )
    # 6 rows in buckets 0,1,2,2,3,20 -> n_rows pinned; psi vs itself == 0
    r = S.psi_by_group(df, "source", "n_chars").collect()[0]
    assert r["n_rows"] == 6 and r["psi_micro"] == 0


def test_assemble_trajectories_order_truncate(spark):
    """Out-of-order input, a ts tie broken by the tie column, and a key
    overflowing max_steps: the trajectory is the time-ordered prefix."""
    import hashlib

    from data_ingestion_spark.operators import temporal as T

    rows = [
        (1, 3, 30, "c"),
        (1, 1, 10, "a"),
        (1, 2, 21, "bb"),
        (1, 2, 20, "ba"),  # ts tie with event 21: event_id 20 first
        (2, 9, 90, "z"),
    ]
    df = spark.createDataFrame(rows, "user_id: long, ts: long, event_id: long, event_type: string")
    out = {
        r["user_id"]: r
        for r in T.assemble_trajectories(
            df, "user_id", "ts", "event_id", "event_type", max_steps=3
        ).collect()
    }
    u1 = out[1]
    assert (u1["n_events"], u1["n_steps"]) == (4, 3)
    assert u1["traj_md5"] == hashlib.md5(b"a|ba|bb").hexdigest()
    assert out[2]["traj_md5"] == hashlib.md5(b"z").hexdigest()


def test_assemble_trajectories_no_window_in_plan(spark):
    """The assembly is collect_list + per-row array_sort — the plan must
    contain no Window operator (a window would serialize hot keys)."""
    from data_ingestion_spark.operators import temporal as T

    df = spark.createDataFrame(
        [(i % 5, i, i, "e") for i in range(100)],
        "user_id: long, ts: long, event_id: long, event_type: string",
    )
    out = T.assemble_trajectories(df, "user_id", "ts", "event_id", "event_type")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_pq_encode_recovers_cluster_structure(spark):
    """Four well-separated clusters in two 2-d subspaces: every vector
    must share a codeword-pair with its cluster's seed, and ADC top-1
    for a cluster-center query is the center itself (adc_micro == 0
    for an exactly-reconstructed vector)."""
    from data_ingestion_spark.operators import similarity as S

    centers = [(0.0, 0.0, 10.0, 10.0), (10.0, 10.0, 0.0, 0.0),
               (-10.0, -10.0, 5.0, 5.0), (5.0, 5.0, -10.0, -10.0)]
    # ids round-robin across clusters so the deterministic seeds (the 4
    # lowest ids) start one-per-cluster; cluster(vid) = vid % 4
    rows = []
    for j, jitter in enumerate((0.0, 0.1, -0.1)):
        for ci, c in enumerate(centers):
            rows.append((ci + 4 * j, [x + jitter for x in c]))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    books = S.pq_train(df, m=2, k=4, n_iter=2)
    codes = {r["vec_id"]: (r["code_0"], r["code_1"])
             for r in S.pq_encode(df, "vec_id", "embedding", books).collect()}
    for ci in range(4):  # members encode like their cluster head
        assert codes[ci] == codes[ci + 4] == codes[ci + 8]
    assert len(set(codes.values())) == 4  # distinct clusters stay distinct

    from pyspark.sql import functions as F

    queries = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    top1 = {r["qid"]: r for r in S.pq_adc_topk(
        df, queries, m=2, k=4, n_iter=2, topk=1
    ).collect()}
    for qid, r in top1.items():
        # the query's own cluster wins; centroid==mean of the 3 members,
        # so the ADC distance is the tiny jitter variance, far below the
        # ~100-unit inter-cluster gaps
        assert r["vec_id"] % 4 == qid % 4
        assert r["adc_micro"] < 1_000_000


def test_pq_adc_no_cartesian_in_plan(spark):
    """The ADC join must be a broadcast of the n_q*m*k LUT, never a
    cartesian or raw-vector pair join."""
    from data_ingestion_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), float(i % 3), float(i % 2)])
         for i in range(40)],
        "vec_id: long, embedding: array<double>",
    )
    from pyspark.sql import functions as F

    q = df.limit(2).select(F.col("vec_id").alias("qid"), "embedding")
    out = S.pq_adc_topk(df, q, m=2, k=4, n_iter=1, topk=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_pq_ivf_full_probe_equals_plain_pq(spark):
    """With n_probe == n_lists the IVF routing prunes nothing, so IVF-PQ
    must equal plain PQ/ADC row for row — the correctness anchor that
    pins the composition (same anchor ivf_topk uses vs cosine_topk).
    And with n_probe=1 every result must come from the query's own
    probed list."""
    from pyspark.sql import functions as F

    from data_ingestion_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
         for i in range(60)],
        "vec_id: long, embedding: array<double>",
    )
    q = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    kw = dict(id_col="vec_id", vec_col="embedding", qid_col="qid",
              m=2, k=4, n_iter=1, topk=4)
    plain = sorted(
        map(tuple, S.pq_adc_topk(df, q, **kw).collect())
    )
    full = sorted(
        map(tuple, S.pq_ivf_topk(df, q, n_lists=3, n_probe=3, **kw).collect())
    )
    assert plain == full and len(plain) == 12

    pruned = S.pq_ivf_topk(df, q, n_lists=3, n_probe=1, **kw)
    cents = S.ivf_centroids_from_sample(df, 3)
    probes = {
        r["qid"]: r["list_id"]
        for r in S.ivf_assign(
            q.select(F.col("qid"), F.col("embedding")), cents,
            vec_col="embedding", n_probe=1,
        ).collect()
    }
    lists = {
        r["vec_id"]: r["list_id"]
        for r in S.ivf_assign(df, cents, vec_col="embedding", n_probe=1).collect()
    }
    for r in pruned.collect():
        assert lists[r["vec_id"]] == probes[r["qid"]]


def test_jaccard_pairs_prefix_filter_lossless(spark):
    """The AllPairs prefix+length filtering must produce EXACTLY the
    naive within-block all-pairs result — pinned on a fixture with
    exact dups, near-dups straddling the threshold, length-mismatched
    docs, and single-shingle docs."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from data_ingestion_spark.operators import dedup

    docs = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "alpha beta gamma delta epsilon zeta"),          # exact dup of 0
        (2, "alpha beta gamma delta epsilon eta"),           # near dup of 0
        (3, "one two three four five six seven"),            # unrelated
        (4, "one two three four five six seven eight nine ten eleven twelve"),
        (5, "zz yy xx"),                                     # single shingle
        (6, "zz yy xx"),                                     # its dup
    ]
    df = spark.createDataFrame(docs, "doc_id: long, text: string").withColumn(
        "blk", F.lit(1)
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(
            df, "doc_id", "text", [F.col("blk")], k=3, threshold=0.3
        ).collect()
    }

    def shingles(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    expect = {}
    for (ia, ta), (ib, tb) in combinations(docs, 2):
        sa, sb = shingles(ta), shingles(tb)
        if not sa or not sb:
            continue
        j = round(len(sa & sb) / len(sa | sb), 4)
        if j >= 0.3:
            expect[(ia, ib)] = j
    assert got == expect
    assert (0, 1) in got and got[(0, 1)] == 1.0
    assert (5, 6) in got  # single-shingle docs survive the prefix filter


def test_canonicalize_url(spark):
    """Adversarial URL fixtures: every decoration the canonicalizer claims
    to strip, plus the ones it must NOT touch."""
    from data_ingestion_spark.operators.web import canonicalize_url

    cases = [
        # scheme / www / default port / fragment / trailing slash
        ("https://www.Ex.COM:443/A/b/#frag", "ex.com/a/b"),
        ("http://ex.com:80/a/b/", "ex.com/a/b"),
        ("HTTP://EX.com/a/b", "ex.com/a/b"),
        # non-default port survives
        ("https://ex.com:8080/a", "ex.com:8080/a"),
        # tracking params dropped, the rest sorted
        ("https://ex.com/p?utm_source=x&b=2&a=1&fbclid=z", "ex.com/p?a=1&b=2"),
        ("https://ex.com/p?a=1&b=2", "ex.com/p?a=1&b=2"),
        ("https://ex.com/p?b=2&a=1", "ex.com/p?a=1&b=2"),
        # all params tracking -> bare path, no '?'
        ("https://ex.com/p/?utm_campaign=c&gclid=g", "ex.com/p"),
        # empty query / lone '?'
        ("https://ex.com/p?", "ex.com/p"),
        # 'ref' is tracking; 'refresh' is NOT (anchored prefix match)
        ("https://ex.com/p?ref=nav&refresh=1", "ex.com/p?refresh=1"),
        # fragment may contain '?' — all of it goes
        ("https://ex.com/p?a=1#sec?b=2", "ex.com/p?a=1"),
        # host-only URLs
        ("https://www.ex.com", "ex.com"),
        ("https://www.ex.com:443", "ex.com"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url: string")
    got = [r["c"] for r in df.select(canonicalize_url("url").alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_dsir_importance_matches_reference(spark):
    """dsir_importance vs an independent pure-Python replay of the DSIR
    formula (hashed uni+bigram buckets, add-one smoothing, integer-micro
    log-ratios) on a corpus with an obvious target signature."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from data_ingestion_spark.operators.sampling import dsir_importance

    docs = [
        (0, "the quick brown fox", True),
        (1, "the lazy brown dog", True),
        (2, "zzz qqq vvv kkk", False),
        (3, "the quick red fox", False),
        (4, "qqq zzz", False),
        (5, "", False),  # no tokens -> excluded
    ]
    df = spark.createDataFrame(docs, "doc_id: long, text: string, tgt: boolean")
    got = {
        r["doc_id"]: (r["is_target"], r["n_grams"], r["weight_micro"])
        for r in dsir_importance(df, "doc_id", "text", F.col("tgt"), n_buckets=16)
        .collect()
    }

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 16

    def grams(t):
        w = t.lower().split()
        return w + [f"{a} {b}" for a, b in zip(w, w[1:])]

    cr, ct = {}, {}
    per_doc = {}
    for did, text, tgt in docs:
        g = grams(text)
        if not g:
            continue
        per_doc[did] = (tgt, g)
        for x in g:
            b = h60(x)
            cr[b] = cr.get(b, 0) + 1
            if tgt:
                ct[b] = ct.get(b, 0) + 1
    nr, nt = sum(cr.values()), sum(ct.values())
    term = {
        b: math.floor(
            (math.log((ct.get(b, 0) + 1) / (nt + 16)) - math.log((c + 1) / (nr + 16)))
            * 1e6
            + 0.5
        )
        for b, c in cr.items()
    }
    want = {
        did: (tgt, len(g), sum(term[h60(x)] for x in g))
        for did, (tgt, g) in per_doc.items()
    }
    assert got == want
    assert 5 not in got
    # targets must outscore the disjoint-vocabulary non-targets
    assert min(got[0][2], got[1][2]) > max(got[2][2], got[4][2])


def test_nb_classify_separable_and_tiebreak(spark):
    """NB recovers labels on a separable corpus; unseen-in-class tokens hit
    the add-one floor instead of dropping out; ties break on class asc."""
    from data_ingestion_spark.operators.text import nb_classify

    docs = [
        (0, "en", "the cat and the dog"),
        (1, "en", "the dog and the bird"),
        (2, "fr", "le chat et le chien"),
        (3, "fr", "le chien et le oiseau"),
        (4, "en", "the cat"),
        (5, "fr", "le chat"),
    ]
    df = spark.createDataFrame(docs, "doc_id: long, lang: string, text: string")
    got = {r["doc_id"]: r["pred"] for r in nb_classify(df, "doc_id", "lang", "text").collect()}
    assert got == {0: "en", 1: "en", 2: "fr", 3: "fr", 4: "en", 5: "fr"}

    # exact two-class symmetry -> identical scores -> class-asc tie-break
    sym = [(0, "a", "x y"), (1, "b", "x y")]
    df2 = spark.createDataFrame(sym, "doc_id: long, lang: string, text: string")
    preds = {r["doc_id"]: r["pred"] for r in nb_classify(df2, "doc_id", "lang", "text").collect()}
    assert preds == {0: "a", 1: "a"}


def test_canonicalize_url_decoration_invariance(spark):
    """300 seeded random (host, path, params) keys, each decorated with a
    random pile of the things the canonicalizer claims to strip (scheme,
    case, www., default port, param order, tracking params, fragment,
    trailing slash): every decoration must canonicalize to the plain
    form's canonical key, and the canonical form must be a fixed point."""
    import random

    from pyspark.sql import functions as F

    from data_ingestion_spark.operators.web import canonicalize_url

    rng = random.Random(60)
    rows = []
    for i in range(300):
        host = f"h{rng.randrange(40)}.example.org"
        path = "/" + "/".join(
            f"p{rng.randrange(9)}" for _ in range(rng.randrange(1, 4))
        )
        params = [
            f"k{j}={rng.randrange(100)}" for j in range(rng.randrange(0, 4))
        ]
        rng.shuffle(params)
        plain = f"https://{host}{path}" + (
            "?" + "&".join(params) if params else ""
        )
        # decorate
        u = host
        if rng.random() < 0.5:
            u = "www." + u
        if rng.random() < 0.5:
            u += ":443" if rng.random() < 0.5 else ":80"
        shuffled = params[:]
        rng.shuffle(shuffled)
        for t in ("utm_source=x", "fbclid=abc", "gclid=1", "ref=nav"):
            if rng.random() < 0.4:
                shuffled.insert(rng.randrange(len(shuffled) + 1), t)
        dec_path = path + ("/" * rng.randrange(0, 3))
        u = (
            rng.choice(["https://", "http://", "HTTPS://", ""])
            + u
            + dec_path
            + ("?" + "&".join(shuffled) if shuffled else "")
            + ("#frag?x=1" if rng.random() < 0.4 else "")
        )
        if rng.random() < 0.3:
            u = u.upper()
        rows.append((i, plain, u))
    df = spark.createDataFrame(rows, "i: long, plain: string, decorated: string")
    out = df.select(
        "i",
        canonicalize_url("plain").alias("cp"),
        canonicalize_url("decorated").alias("cd"),
    ).withColumn("cc", canonicalize_url(F.col("cp")))
    bad = out.filter((F.col("cp") != F.col("cd")) | (F.col("cp") != F.col("cc")))
    assert bad.count() == 0, bad.limit(5).collect()


def test_wilson_lower_bound_size_honest(spark):
    """A tiny all-pass group must NOT outrank a large nearly-all-pass
    group (the whole point vs raw pass-rate), and the bound must match an
    independent Python evaluation of Wilson's formula."""
    import math

    from pyspark.sql import functions as F

    from data_ingestion_spark.operators.stats import wilson_lower_bound

    rows = [("tiny", True)] * 5 + [("big", True)] * 4800 + [("big", False)] * 200
    df = spark.createDataFrame(rows, "src: string, ok: boolean")
    got = {
        r["src"]: (r["n_rows"], r["n_pass"], r["wilson_lb_micro"])
        for r in wilson_lower_bound(df, "src", F.col("ok")).collect()
    }

    def wilson(n_pass, n, z=1.96):
        p = n_pass / n
        return math.floor(
            (p + z * z / (2 * n) - z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)))
            / (1 + z * z / n)
            * 1e6
            + 0.5
        )

    assert got["tiny"] == (5, 5, wilson(5, 5))
    assert got["big"] == (5000, 4800, wilson(4800, 5000))
    # raw rate says tiny (1.0) > big (0.96); Wilson says the opposite
    assert got["big"][2] > got["tiny"][2]


def test_weighted_sample_determinism_and_weight_rules(spark):
    """Exponential-key sample: matches the pure-Python Efraimidis-Spirakis
    replay exactly; zero/negative weights never sampled; k > n returns all
    eligible rows; uniform weight scaling preserves the selected set."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from data_ingestion_spark.operators.sampling import weighted_sample

    rows = [(i, (i * 37) % 11 - 1) for i in range(200)]  # weights in [-1, 9]
    df = spark.createDataFrame(rows, "doc_id: long, w: long")
    got = [
        (r["doc_id"], r["weight"], r["key_micro"])
        for r in weighted_sample(df, "doc_id", F.col("w"), k=20).collect()
    ]

    def key(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        return math.floor(math.log((h + 1) / float(1 << 60)) / w * 1e6 + 0.5)

    want = sorted(
        ((i, w, key(i, w)) for i, w in rows if w > 0),
        key=lambda t: (-t[2], t[0]),
    )[:20]
    assert got == want
    assert all(w > 0 for _, w, _ in got)
    # scale invariance: keys divide by c, order (and set) unchanged
    df4 = df.withColumn("w4", F.col("w") * 4)
    got4 = {r["doc_id"] for r in weighted_sample(df4, "doc_id", F.col("w4"), k=20).collect()}
    assert got4 == {i for i, _, _ in got}
    # k > eligible rows -> all eligible rows
    n_pos = sum(1 for _, w in rows if w > 0)
    assert weighted_sample(df, "doc_id", F.col("w"), k=10_000).count() == n_pos


def test_unimax_allocation_waterfill_invariants(spark):
    """UniMax pivot on a skewed fixture: small sources capped at
    epochs*avail, every uncapped source gets one shared waterline <= its
    cap, total allocation never exceeds budget and under-allocates by
    < n_uncapped units; budget >= all caps means everyone capped."""
    from pyspark.sql import functions as F

    from data_ingestion_spark.operators.sampling import unimax_allocation

    rows = (
        [("tiny", 10)] * 1
        + [("small", 50)] * 2
        + [("mid", 100)] * 5
        + [("big", 100)] * 40
    )
    df = spark.createDataFrame(rows, "src: string, n: long")
    # avail: tiny=10, small=100, mid=500, big=4000; budget=2000, epochs=1
    out = {
        r["src"]: (r["avail"], r["cap"], r["alloc"], r["capped"])
        for r in unimax_allocation(df, "src", "n", budget=2000, epochs=1).collect()
    }
    assert out["tiny"] == (10, 10, 10, True)
    assert out["small"] == (100, 100, 100, True)
    assert out["mid"] == (500, 500, 500, True)
    # waterline: (2000 - 610) / 1 = 1390 for big, below its cap
    assert out["big"] == (4000, 4000, 1390, False)
    total_alloc = sum(v[2] for v in out.values())
    assert total_alloc <= 2000 and 2000 - total_alloc < 1  # 1 uncapped source

    # epochs scale the caps; generous budget caps everyone
    out2 = {
        r["src"]: (r["cap"], r["alloc"], r["capped"])
        for r in unimax_allocation(df, "src", "n", budget=100_000, epochs=2).collect()
    }
    assert all(capped for _, _, capped in out2.values())
    assert out2["big"] == (8000, 8000, True)


def test_dedup_ladder_cross_tier_consistency(spark):
    """The ladder's tiers trade recall for cost, but an EXACT duplicate
    pair is the degenerate case every tier must catch: identical md5
    fingerprints, Jaccard 1.0, identical MinHash signatures (candidate
    with any banding), SimHash hamming 0, and identical winnowing
    fingerprint sets. One planted fixture, all tiers asserted — a tier
    regression that silently drops the easy case fails here even if its
    own unit tests still pass."""
    from pyspark.sql import functions as F

    from data_ingestion_spark.operators import dedup
    from data_ingestion_spark.operators.text import winnow_fingerprints

    dup_text = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, dup_text),
        (2, dup_text),  # exact dup of 1
        (3, "completely unrelated text about databases and query engines"),
        (4, "another separate document mentioning streams and watermarks"),
        (5, "the quick brown fox jumps over the lazy dog again and AGAIN x"),  # near
    ]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")

    reps = {
        r["doc_id"]: r["n_copies"]
        for r in dedup.exact_dedup_representatives(df, "text", "doc_id").collect()
    }
    assert reps[1] == 2 and 2 not in reps and reps[3] == 1

    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(
            df.withColumn("blk", F.lit(1)), "doc_id", "text", [F.col("blk")],
            k=3, threshold=0.5,
        ).collect()
    }
    assert jac[(1, 2)] == 1.0

    mh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_near_dup(
            df, "doc_id", "text", k=3, jaccard_distance_threshold=0.5
        ).collect()
    }
    assert (1, 2) in mh

    sigs = dedup.simhash(df, "doc_id", "text")
    ham = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_hamming_pairs(sigs, max_hamming=3).collect()
    }
    assert ham[(1, 2)] == 0

    wf = winnow_fingerprints(df, "doc_id", "text")
    fp_sets = {
        r["doc_id"]: set(r["fps"])
        for r in wf.groupBy("doc_id")
        .agg(F.collect_set("winnow_hash").alias("fps"))
        .collect()
    }
    assert fp_sets[1] == fp_sets[2] and fp_sets[1] != fp_sets[3]

    # the near-dup (5) must be visible to at least the similarity tiers
    assert (1, 5) in jac or (2, 5) in jac
    assert any(p in ham for p in [(1, 5), (2, 5)]) or any(
        p in mh for p in [(1, 5), (2, 5)]
    )


def test_ewma_by_key_matches_recursion(spark):
    """ewma_by_key's order-free integer closed form vs the textbook
    recursion s_i = a*v_i + (1-a)*s_{i-1} (zero-seeded): equal within the
    per-term micro-rounding (n terms -> < n micro of drift), recency
    dominance holds, and keys never mix."""
    import math

    from data_ingestion_spark.operators.temporal import ewma_by_key

    rows = [
        (1, 10, 4.0), (1, 20, 2.0), (1, 30, 8.0),
        (2, 10, 100.0),
        (3, 10, 1.0), (3, 20, 1.0), (3, 30, 1.0), (3, 40, 50.0),
    ]
    df = spark.createDataFrame(rows, "k: long, ts: long, v: double")
    got = {
        r["k"]: (r["n_events"], r["ewma_micro"])
        for r in ewma_by_key(df, "k", "ts", "v", alpha=0.25).collect()
    }

    def closed(vals, a=0.25):
        n = len(vals)
        return sum(
            math.floor(a * (1 - a) ** (n - i) * v * 1e6 + 0.5)
            for i, v in enumerate(vals, start=1)
        )

    def recursion(vals, a=0.25):
        s = 0.0
        for v in vals:
            s = a * v + (1 - a) * s
        return s

    series = {1: [4.0, 2.0, 8.0], 2: [100.0], 3: [1.0, 1.0, 1.0, 50.0]}
    for k, vals in series.items():
        assert got[k] == (len(vals), closed(vals))
        assert abs(got[k][1] - recursion(vals) * 1e6) < len(vals)
    # recency dominance: key 3's spike at the end dominates its EWMA
    assert got[3][1] > 0.24 * 50.0 * 1e6


def test_ks_by_group_exact_and_psi_blind_shift(spark):
    """ks_by_group vs a pure-Python ECDF-sup replay, including the case
    PSI is structurally blind to: a shift WITHIN one power-of-two bin
    (values 100 vs 120 share PSI bin [64,128)) that KS must see at full
    strength."""
    import math

    from data_ingestion_spark.operators.stats import ks_by_group

    rows = (
        [("a", 100)] * 10                      # all mass at 100
        + [("b", 120)] * 10                    # same PSI bin, KS must fire
        + [("c", 100)] * 5 + [("c", 120)] * 5  # half-half
    )
    df = spark.createDataFrame(rows, "src: string, v: long")
    got = {
        r["src"]: (r["n_rows"], r["ks_micro"])
        for r in ks_by_group(df, "src", "v").collect()
    }

    # python replay
    from collections import Counter

    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    all_vals = sorted({v for _, v in rows})
    c_all = Counter(v for _, v in rows)
    n_all = len(rows)

    def ks(vals):
        n_g = len(vals)
        cg = Counter(vals)
        cum_g = cum_all = 0
        best = 0
        for v in all_vals:
            cum_g += cg.get(v, 0)
            cum_all += c_all[v]
            best = max(best, abs(cum_g * n_all - cum_all * n_g))
        return math.floor(best / (n_g * n_all) * 1e6 + 0.5)

    for g, vals in by_g.items():
        assert got[g] == (len(vals), ks(vals))
    # group a: ECDF_a(100)=1, ECDF_all(100)=15/30 -> D=0.5 exactly
    assert got["a"][1] == 500000
    # b mirrors a at the same magnitude; c is balanced -> strictly smaller
    assert got["b"][1] == 500000
    assert got["c"][1] < got["a"][1]


def test_chi_square_independence(spark):
    """chi_square_independence vs a pure-Python contingency replay:
    perfectly dependent columns hit the theoretical maximum
    n*(min(r,c)-1), an independent-by-construction table scores ~0, and
    zero-count grid cells contribute their expected value."""
    import math

    from data_ingestion_spark.operators.stats import chi_square_independence

    # perfectly dependent: b determined by a (2x2, zero diagonal cells)
    dep = [("x", "u")] * 10 + [("y", "v")] * 10
    r = chi_square_independence(
        spark.createDataFrame(dep, "a: string, b: string"), "a", "b"
    ).collect()[0]
    assert (r["n_rows"], r["n_cells"], r["dof"]) == (20, 4, 1)
    assert r["chi2_micro"] == 20 * 1_000_000  # X² = n for a 2x2 perfect match

    # independent by construction: every (a, b) combo equally likely
    ind = [(a, b) for a in "xy" for b in "uv" for _ in range(5)]
    r2 = chi_square_independence(
        spark.createDataFrame(ind, "a: string, b: string"), "a", "b"
    ).collect()[0]
    assert r2["chi2_micro"] == 0

    # python replay on an uneven 2x3 table
    rows = (
        [("x", "u")] * 7 + [("x", "v")] * 2 + [("x", "w")] * 1
        + [("y", "u")] * 3 + [("y", "v")] * 6
    )
    r3 = chi_square_independence(
        spark.createDataFrame(rows, "a: string, b: string"), "a", "b"
    ).collect()[0]
    from collections import Counter

    cab = Counter(rows)
    ca = Counter(a for a, _ in rows)
    cb = Counter(b for _, b in rows)
    n = len(rows)
    want = sum(
        math.floor(
            (cab.get((a, b), 0) - ca[a] * cb[b] / n) ** 2 / (ca[a] * cb[b] / n) * 1e6
            + 0.5
        )
        for a in ca
        for b in cb
    )
    assert (r3["n_cells"], r3["dof"]) == (6, 2)
    assert r3["chi2_micro"] == want


def test_ks_critical_flag_fires_on_planted_drift(spark, tmp_path):
    """A group sampled from a shifted distribution must clear the
    c(0.05)·sqrt((n+m)/nm) critical value; same-distribution groups must
    not. Uses the registry query end-to-end via a synthetic documents
    parquet."""
    import random

    rng = random.Random(7)
    rows = []
    did = 0
    # the shifted cohort is kept SMALL: the statistic is group-vs-corpus,
    # so a large drifted group would legitimately drag every other group
    # away from the blended corpus ECDF too
    for src, n, shift in [("same_a", 300, 0), ("same_b", 300, 0), ("shifted", 40, 900)]:
        for _ in range(n):
            rows.append((did, src, "en", "x", rng.randint(100, 200) + shift))
            did += 1
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    from data_ingestion_spark.operators.registry2 import ks_critical_drift_docs

    got = {r["source"]: r["drifted"] for r in ks_critical_drift_docs(
        spark, str(tmp_path)
    ).collect()}
    assert got == {"same_a": False, "same_b": False, "shifted": True}


def test_robust_scale_flags_planted_outliers(spark, tmp_path):
    """Planted extreme values land outside the Tukey fences; the bulk
    does not. Median/IQR must ignore the outliers (robustness)."""
    rows = [(i, None, i % 3, "click", float(10 + (i % 11)), "{}") for i in range(300)]
    rows += [(1000 + j, None, j, "click", 1e6, "{}") for j in range(3)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from data_ingestion_spark.operators.registry2 import robust_scale_events

    row = robust_scale_events(spark, str(tmp_path)).collect()[0]
    assert row["n_outliers"] == 3
    assert 10 <= row["median_value"] <= 21  # unmoved by the 1e6 spikes


def test_join_size_sampled_full_gate_is_exact(spark):
    from data_ingestion_spark.operators import stats

    a = spark.createDataFrame([(k % 5, i) for i, k in enumerate(range(40))], "k long, x long")
    b = spark.createDataFrame([(k % 5, i) for i, k in enumerate(range(15))], "k long, y long")
    exact = stats.join_cardinality(a, b, ["k"]).collect()[0]["est_join_rows"]
    assert exact == a.join(b, "k").count()
    # mod=1 keeps every key → the "estimate" must equal the exact count
    full = stats.join_size_sampled(a, b, ["k"], mod=1).collect()[0]
    assert full["est_join_rows_sampled"] == exact
    assert full["n_sampled_keys"] == 5
    # mod=2 is deterministic: same inputs → same estimate, and only the
    # gated keys contribute
    e1 = stats.join_size_sampled(a, b, ["k"], mod=2).collect()[0]
    e2 = stats.join_size_sampled(a, b, ["k"], mod=2).collect()[0]
    assert e1 == e2
    assert e1["n_sampled_keys"] <= 5


def test_pareto_frontier_2d(spark):
    from data_ingestion_spark.operators import stats

    pts = [
        (1, 10),   # frontier (smallest x)
        (2, 30),   # frontier (better y than everything smaller)
        (2, 5),    # same x, worse y → collapsed away
        (3, 30),   # equal y at larger x → dominated (strict-in-x)
        (4, 25),   # dominated by (2, 30)
        (5, 40),   # frontier
    ]
    df = spark.createDataFrame(pts, "x long, y long")
    out = stats.pareto_frontier_2d(df, "x", "y").collect()
    assert [(r["x"], r["best_y"]) for r in out] == [(1, 10), (2, 30), (5, 40)]


def test_key_skew_profile(spark):
    from data_ingestion_spark.operators import skew

    # one hot key (90 rows) + 10 cold keys (1 row each)
    rows = [(0,)] * 90 + [(k,) for k in range(1, 11)]
    df = spark.createDataFrame(rows, "k long")
    r = skew.key_skew_profile(df, "k").collect()[0]
    assert r["n_rows"] == 100 and r["n_keys"] == 11
    assert r["max_fanout"] == 90
    assert r["top1_share_micro"] == 900_000
    assert r["top10_share_micro"] == 990_000  # hot key + 9 cold keys
    assert r["avg_fanout_micro"] == 9_090_909


def _cc_dict(df):
    return {r["id"]: r["comp"] for r in df.collect()}


def test_twostar_cc_equals_propagation_random_graphs(spark):
    import random

    from data_ingestion_spark.operators import dedup

    rnd = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [
            (rnd.randrange(n), rnd.randrange(n)) for _ in range(40 + 20 * trial)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        a = _cc_dict(dedup.connected_components(df))
        b = _cc_dict(dedup.connected_components_twostar(df))
        assert a == b, (trial, {k: (a[k], b.get(k)) for k in a if a[k] != b.get(k)})


def test_twostar_cc_long_chain(spark):
    from data_ingestion_spark.operators import dedup

    # 200-node path: diameter 199 — the propagation variant's worst case,
    # two-star's motivating one. Component must collapse to min id 0.
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long"
    )
    out = _cc_dict(dedup.connected_components_twostar(df))
    assert set(out) == set(range(200))
    assert set(out.values()) == {0}


def test_neyman_allocation_budget_and_proportionality(spark):
    from data_ingestion_spark.operators import sampling

    # stratum 0: large but CONSTANT (zero variance) — gets nothing;
    # stratum 1: small but high-spread; stratum 2: mid
    rows = (
        [(0, 100.0)] * 50
        + [(1, float(v)) for v in (0, 1000, 0, 1000, 0, 1000)]
        + [(2, float(v % 7)) for v in range(20)]
    )
    df = spark.createDataFrame(rows, "s long, v double")
    out = {r["stratum"]: r for r in sampling.neyman_allocation(df, "s", "v", 100).collect()}
    assert sum(r["alloc"] for r in out.values()) == 100
    assert out[0]["alloc"] == 0  # zero variance -> zero slots
    assert out[1]["alloc"] > out[2]["alloc"]  # N*S dominates despite size


def test_neyman_allocation_degenerate_all_constant(spark):
    from data_ingestion_spark.operators import sampling

    df = spark.createDataFrame([(0, 5.0)] * 3 + [(1, 7.0)] * 3, "s long, v double")
    out = sampling.neyman_allocation(df, "s", "v", 10).collect()
    # all-zero weights: the largest-remainder pass still hands out the
    # full budget deterministically (remainder ties broken by stratum)
    assert sum(r["alloc"] for r in out) == 10


def test_autogated_join_branches(spark):
    """skew.autogated_join picks salted on a hot key, plain on uniform —
    and both branches return identical join results."""
    from pyspark.sql import functions as F

    from data_ingestion_spark.operators import skew

    hot = spark.range(1000).select(
        F.col("id").alias("rid"), (F.col("id") % 3).alias("k")
    )
    uniform = spark.range(1000).select(
        F.col("id").alias("rid"), F.col("id").alias("k")
    )
    dim = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("attr")
    )
    j_hot, salted_hot = skew.autogated_join(hot, dim, "k", "rid")
    j_uni, salted_uni = skew.autogated_join(uniform, dim, "k", "rid")
    assert salted_hot is True
    assert salted_uni is False
    # salting is semantically invisible
    plain_hot = hot.join(dim, "k")
    assert j_hot.count() == plain_hot.count() == 1000
    assert j_hot.exceptAll(plain_hot).count() == 0
    assert j_uni.count() == 1000


def test_dp_threshold_table_is_a_valid_cdf():
    """The literal inverse-CDF table must be monotone, symmetric about 0,
    and absorb the full 40-bit mass — otherwise the geometric mechanism
    is silently mis-calibrated."""
    import math

    from data_ingestion_spark.operators.registry2 import (
        _DP_EPSILON,
        _DP_K,
        _dp_thresholds,
    )

    tab = _dp_thresholds()
    ks = [k for k, _ in tab]
    ts = [t for _, t in tab]
    assert ks == list(range(-_DP_K, _DP_K + 1))
    assert ts == sorted(ts) and ts[-1] == 1 << 40
    # symmetry: P(k) == P(-k) → threshold increments mirror, EXCEPT the
    # outermost +K bucket, which absorbs the clamped tail mass by design
    inc = [b - a for a, b in zip([0] + ts, ts)]
    for i in range(1, _DP_K):
        assert abs(inc[i] - inc[-1 - i]) <= 2  # integer rounding slack
    tail_absorbed = inc[-1] - inc[0]
    assert 0 <= tail_absorbed < 4000  # P(|k| > K) ≈ 2e-9 of 2^40
    # the center bucket carries the mechanism's P(0) = (1-a)/(1+a)
    a = math.exp(-_DP_EPSILON)
    p0 = inc[_DP_K] / (1 << 40)
    assert abs(p0 - (1 - a) / (1 + a)) < 1e-6


def test_dp_noisy_counts_noise_bounded(spark):
    from data_ingestion_spark.operators.registry2 import (
        _DP_K,
        dp_noisy_counts_docs,
    )

    rows = dp_noisy_counts_docs(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert abs(r["noise"]) <= _DP_K
        assert r["noisy_n"] == r["true_n"] + r["noise"]
        assert r["epsilon_micro"] == 1_000_000


def test_sessionize_events_matches_session_window(spark):
    """Cross-tier sessionization parity: the row-level session-ID
    assignment (sessionize_events) must induce the same per-user session
    multiset (n_events per session) as the declarative F.session_window
    aggregate at the same 30-minute gap — two independent formulations of
    the same semantics. (Boundary note: they differ only for gaps of
    EXACTLY 1800s — measure-zero on µs timestamps; the fixture has none.)"""
    from collections import Counter

    from data_ingestion_spark.operators.registry2 import sessionize_events
    from data_ingestion_spark.streaming.event_time import session_window_agg
    from data_ingestion_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    mine = Counter(
        (r["user_id"], r["n_events"])
        for r in sessionize_events(spark, sf).collect()
    )
    declarative = Counter(
        (r["user_id"], r["n_events"])
        for r in session_window_agg(
            load_table(spark, sf, "events"), gap="30 minutes"
        ).collect()
    )
    assert mine == declarative and sum(mine.values()) > 0


def test_winnow_store_probe_matches_direct_and_invalidates(spark, tmp_path):
    """r10 stored fingerprint table: the committed snapshot's content is
    EXACTLY winnow_fingerprints(docs) with source carried through, and a
    corpus regenerated at the same path (new mtime) rebuilds the store
    instead of serving stale rows."""
    import os

    from data_ingestion_spark.operators import text

    sf = str(tmp_path)
    docs = spark.createDataFrame(
        [(1, "abcdefghij klmno", "s1"), (2, "abcdefghij pqrst", "s2"),
         (3, "zz", "s1")],
        "doc_id long, text string, source string",
    )
    docs.write.parquet(os.path.join(sf, "documents.parquet"))
    probe = text.winnow_fingerprint_probe(spark, sf)
    got = {
        (r["doc_id"], r["source"], r["winnow_hash"]) for r in probe.collect()
    }
    direct = text.winnow_fingerprints(
        docs, "doc_id", "text", k=5, w=4, carry_cols=("source",)
    )
    want = {
        (r["doc_id"], r["source"], r["winnow_hash"]) for r in direct.collect()
    }
    assert got == want and got  # doc 3 too short -> absent, others present
    assert not any(d == 3 for d, _, _ in got)
    # same path + same mtime -> memoized root
    r1 = text.winnow_fingerprint_store(spark, sf)
    assert text.winnow_fingerprint_store(spark, sf) == r1
    # regenerate the corpus at the same path -> new mtime -> fresh store
    import shutil
    import time as _time

    shutil.rmtree(os.path.join(sf, "documents.parquet"))
    docs2 = spark.createDataFrame(
        [(9, "abcdefghij uvwxy", "s9")],
        "doc_id long, text string, source string",
    )
    docs2.write.parquet(os.path.join(sf, "documents.parquet"))
    os.utime(
        os.path.join(sf, "documents.parquet"),
        (_time.time() + 2, _time.time() + 2),
    )
    # r12: sweeps are age-gated so in-flight cross-process readers of a
    # superseded root drain before deletion — backdate r1 past the grace
    # window so this build's sweep may legitimately reap it
    from data_ingestion_spark.operators import stores as _stores

    old = _time.time() - _stores.SWEEP_GRACE_SECONDS - 60
    os.utime(r1, (old, old))
    r2 = text.winnow_fingerprint_store(spark, sf)
    assert r2 != r1
    fresh = text.winnow_fingerprint_probe(spark, sf)
    assert {r["doc_id"] for r in fresh.collect()} == {9}
    # the superseded (aged) root was swept: exactly one live sibling
    # remains for this corpus+params identity
    import glob as _glob

    prefix = os.path.basename(r1).rsplit("_", 1)[0]
    live = _glob.glob(os.path.join(os.path.dirname(r1), prefix + "_*"))
    assert live == [r2]


def test_store_root_is_deterministic_and_force_keeps_prior_version(
    spark, tmp_path
):
    """r11 store discipline (three r10 ADVICE findings): (1) the root is a
    pure function of corpus+params+mtime, so a 'fresh process' (here: a
    cleared memo — there is none left to clear, the path IS the memo)
    reuses the committed snapshot instead of rebuilding; (2) force=True
    rebuilds as a NEW VERSION in the SAME root, so a lazy DataFrame taken
    BEFORE the rebuild still collects its pinned version afterwards."""
    import os

    from data_ingestion_spark.operators import text

    sf = str(tmp_path)
    docs = spark.createDataFrame(
        [(1, "abcdefghij klmno", "s1")],
        "doc_id long, text string, source string",
    )
    docs.write.parquet(os.path.join(sf, "documents.parquet"))
    r1 = text.winnow_fingerprint_store(spark, sf)
    # determinism: same inputs -> same root (cross-process reuse path)
    assert text.winnow_fingerprint_store(spark, sf) == r1
    lazy_before = text.winnow_fingerprint_probe(spark, sf)  # NOT collected
    r2 = text.winnow_fingerprint_store(spark, sf, force=True)
    assert r2 == r1  # same root, new version inside
    # the pre-rebuild lazy frame still reads its pinned (old) version
    assert lazy_before.count() > 0
    # and a fresh probe reads the new head with identical content
    after = {
        (r["doc_id"], r["winnow_hash"])
        for r in text.winnow_fingerprint_probe(spark, sf).collect()
    }
    assert after == {
        (r["doc_id"], r["winnow_hash"]) for r in lazy_before.collect()
    }


def test_jaccard_pairs_stored_equals_inline(spark, tmp_path):
    """r11 stored shingle base: jaccard_pairs_stored must return EXACTLY
    what the in-line AllPairs path returns — same global frequency
    order, same rounding-safe prefix bound, same verify — at a tight AND
    a loose threshold (the loose one exercises the near-full prefix the
    review queue uses). Corpus is planted with twins, a partial overlap,
    and a too-short doc (filtered by the >= k tokens gate on both paths)."""
    import os

    from data_ingestion_spark.operators import dedup

    sf = str(tmp_path)
    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight", "en"),
        (2, "the quick brown fox jumps over the lazy dog tonight", "en"),
        (3, "the quick brown fox walks under the lazy dog today", "en"),
        (4, "completely different words appear in this document here", "en"),
        (5, "el rapido zorro marron salta sobre el perro hoy", "es"),
        (6, "el rapido zorro marron salta sobre el perro hoy", "es"),
        (7, "too short", "en"),
    ]
    docs = spark.createDataFrame(
        [(i, t, lang, len(t)) for i, t, lang in rows],
        "doc_id long, text string, lang string, n_chars long",
    )
    docs.write.parquet(os.path.join(sf, "documents.parquet"))
    from pyspark.sql import functions as F

    blocks = [F.col("lang"), F.expr("n_chars div 200").alias("bucket")]
    for t in (0.3, 0.02):
        inline = sorted(
            map(
                tuple,
                dedup.jaccard_pairs(
                    docs, "doc_id", "text", block_cols=blocks, k=3, threshold=t
                ).collect(),
            )
        )
        # BOTH stored strategies must equal the in-line path at BOTH
        # thresholds — the auto-crossover (count below 0.25, prefix
        # above) is a performance choice, never a semantic one
        for strategy in ("prefix", "count"):
            stored = sorted(
                map(
                    tuple,
                    dedup.jaccard_pairs_stored(
                        spark, sf, threshold=t, strategy=strategy
                    ).collect(),
                )
            )
            assert inline == stored and stored, (t, strategy, inline, stored)
    # the planted exact twins are found at the tight threshold
    tight = dedup.jaccard_pairs_stored(spark, sf, threshold=0.3)
    found = {(r["id_a"], r["id_b"]) for r in tight.collect()}
    assert {(1, 2), (5, 6)} <= found


def test_jaccard_pairs_stored_null_block_parity(spark, tmp_path):
    """r11 review finding: the in-line path blocks on STRUCTS, and Spark
    struct equality treats NULL fields as equal — two NULL-lang twins
    share a block there. The stored paths compare unpacked columns and
    must use null-safe equality to keep exact parity; a bare `==` would
    silently drop the pair."""
    import os

    from pyspark.sql import functions as F

    from data_ingestion_spark.operators import dedup

    sf = str(tmp_path)
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", None, 36),
            (2, "alpha beta gamma delta epsilon zeta", None, 36),
            (3, "alpha beta gamma delta epsilon zeta", "en", 36),
        ],
        "doc_id long, text string, lang string, n_chars long",
    )
    docs.write.parquet(os.path.join(sf, "documents.parquet"))
    blocks = [F.col("lang"), F.expr("n_chars div 200").alias("bucket")]
    inline = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_pairs(
            docs, "doc_id", "text", block_cols=blocks, k=3, threshold=0.3
        ).collect()
    }
    assert inline == {(1, 2)}  # struct blocks: NULL==NULL, 3 is separate
    for strategy in ("prefix", "count"):
        stored = {
            (r["id_a"], r["id_b"])
            for r in dedup.jaccard_pairs_stored(
                spark, sf, threshold=0.3, strategy=strategy
            ).collect()
        }
        assert stored == inline, (strategy, stored)
    # and the DuckDB oracle agrees too (its block joins are
    # IS NOT DISTINCT FROM since the r11 second review pass — before
    # that, SQL `=` silently excluded NULL-block pairs, a latent
    # three-way divergence the generated fixtures never exercised)
    import duckdb

    from data_ingestion_spark.operators.registry import (
        DEDUP_JACCARD_PAIRS_DOCS_SQL,
    )

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM read_parquet('"
        + os.path.join(sf, "documents.parquet")
        + "/*.parquet')"
    )
    oracle = {
        (r[0], r[1])
        for r in con.sql(DEDUP_JACCARD_PAIRS_DOCS_SQL).fetchall()
    }
    assert oracle == inline, oracle
