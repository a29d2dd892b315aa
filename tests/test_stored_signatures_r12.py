"""Round-12 stored signature bases (the r11 verdict's task #3): the
embsig store (plant + 60-bit hyperplane signature + norms + SemDeDup
assignment) and the simsig store (document SimHash). Every stored path
must return EXACTLY what the in-line derivation returns — the store may
only change the plan, never a bit — including the numpy-cumsum build
workers, whose sequential-accumulation bit-identity with the SQL left
fold is the load-bearing claim."""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F


def _emb_corpus(spark, tmp_path, n=120, dim=64, seed=7):
    rnd = random.Random(seed)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(dim)], i % 3)
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(sf, "embeddings.parquet"))
    return sf


def _doc_corpus(spark, tmp_path, n=60, seed=9):
    rnd = random.Random(seed)
    vocab = [f"w{i}" for i in range(25)]
    rows = []
    for i in range(n):
        text = " ".join(rnd.choices(vocab, k=rnd.randrange(4, 30)))
        rows.append((i, text, "en", len(text)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    )
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    return sf


def test_embsig_base_matches_inline_fold(spark, tmp_path):
    """Stored (sig, nrm, v) per id must be bit-identical to the in-line
    hyperplane_signature / l2_norm SQL folds over the planted set — the
    numpy build worker's cumsum accumulation is sequential, same order,
    same doubles."""
    from data_ingestion_spark.functions.vector_functions import l2_norm
    from data_ingestion_spark.operators import registry as R
    from data_ingestion_spark.operators import similarity

    sf = _emb_corpus(spark, tmp_path)
    base, _ = R.embedding_signature_probe(spark, sf)
    got = {
        r["id"]: (r["sig"], r["nrm"], tuple(r["v"])) for r in base.collect()
    }
    planes = similarity._deterministic_hyperplanes(64, 60, seed=42)
    inline = R._planted_embeddings(spark, sf).select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        similarity.hyperplane_signature("embedding", planes).alias("sig"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    want = {
        r["id"]: (r["sig"], r["nrm"], tuple(r["v"])) for r in inline.collect()
    }
    assert got == want and got


def test_embsig_assign_matches_semantic_assign_both_k_regimes(spark, tmp_path):
    """Stored assignment must equal similarity.semantic_assign — max
    inner product, lowest-cid tie-break — in BOTH centroid regimes: the
    k ≤ 64 literal-expression branch (via the committed store) and the
    k > 64 broadcast-table max_by branch (via the build worker directly,
    with 70 centroids)."""
    import pandas as pd

    from data_ingestion_spark.operators import registry as R
    from data_ingestion_spark.operators import similarity

    sf = _emb_corpus(spark, tmp_path, n=200)
    _, assign = R.embedding_signature_probe(spark, sf)
    got = {r["vec_id"]: r["list_id"] for r in assign.collect()}
    from data_ingestion_spark.session import load_table

    emb = load_table(spark, sf, "embeddings")
    cents = similarity.ivf_centroids_from_sample(emb, n_lists=8)
    want = {
        r["vec_id"]: r["list_id"]
        for r in similarity.semantic_assign(emb, cents).collect()
    }
    assert got == want and got
    # k > 64 regime: the build worker vs the max_by branch
    cents70 = similarity.ivf_centroids_from_sample(emb, n_lists=70)
    assert len(cents70) == 70
    want70 = {
        r["vec_id"]: r["list_id"]
        for r in similarity.semantic_assign(emb, cents70).collect()
    }
    pdf = emb.select("vec_id", "embedding").toPandas()
    got70 = {}
    for out in R._embsig_assign_batches(cents70)([pdf]):
        got70.update(dict(zip(out["vec_id"], out["list_id"])))
    got70 = {int(k): int(v) for k, v in got70.items()}
    assert got70 == want70 and got70


def test_lsh_consumers_stored_equals_inline(spark, tmp_path):
    """knn_lsh_pairs' and dedup_embedding_pairs' stored-probe paths must
    emit exactly the in-line hyperplane_lsh_pairs rows (ids AND rounded
    cosines) — the 16-bit consumer slices the stored 60-bit signature
    (per-bit plane stream), the 60-bit consumer reads it whole."""
    from data_ingestion_spark.operators import registry as R
    from data_ingestion_spark.operators import similarity
    from data_ingestion_spark.session import load_table

    sf = _emb_corpus(spark, tmp_path, n=150, seed=11)
    emb = load_table(spark, sf, "embeddings")
    inline16 = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in similarity.hyperplane_lsh_pairs(
            emb, bits=16, band_bits=4, threshold=0.35
        ).collect()
    }
    got16 = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in R.knn_lsh_pairs(spark, sf).collect()
    }
    assert got16 == inline16 and got16
    inline60 = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in similarity.hyperplane_lsh_pairs(
            R._planted_embeddings(spark, sf),
            bits=60, band_bits=10, threshold=0.9, dim=64,
        ).collect()
    }
    got60 = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in R.dedup_embedding_pairs(spark, sf).collect()
    }
    assert got60 == inline60 and got60  # the planted twins collide


def test_semantic_dedup_stored_equals_inline(spark, tmp_path):
    from data_ingestion_spark.operators import registry as R
    from data_ingestion_spark.operators import similarity
    from data_ingestion_spark.session import load_table

    sf = _emb_corpus(spark, tmp_path, n=130, seed=13)
    got = {tuple(r) for r in R.semantic_dedup_embeddings(spark, sf).collect()}
    emb = load_table(spark, sf, "embeddings")
    n = emb.count()
    cents = similarity.ivf_centroids_from_sample(emb, n_lists=max(8, n // 64))
    assigned, dropped = similarity.semantic_dedup(
        emb, cents, threshold_micro=300000
    )
    want = {
        tuple(r)
        for r in (
            assigned.join(
                dropped.withColumn("_d", F.lit(1)).select("vec_id", "_d"),
                "vec_id",
                "left",
            )
            .groupBy(F.col("list_id").cast("long").alias("list_id"))
            .agg(
                F.count(F.lit(1)).alias("n_vectors"),
                F.sum(F.coalesce(F.col("_d"), F.lit(0)))
                .cast("long")
                .alias("n_dropped"),
            )
            .collect()
        )
    }
    assert got == want and got


def test_simhash_consumers_stored_equals_inline(spark, tmp_path):
    """The stored simhash snapshot must serve all three consumers with
    exactly the in-line dedup.simhash values: the signature dump, the
    hamming ≤ 3 banded pairs, and the multi-probe hamming ≤ 7 pairs."""
    from data_ingestion_spark.operators import dedup
    from data_ingestion_spark.operators import registry as R
    from data_ingestion_spark.operators.registry3 import QUERIES as Q3
    from data_ingestion_spark.session import load_table

    sf = _doc_corpus(spark, tmp_path)
    docs = load_table(spark, sf, "documents")
    inline_sig = {
        (r["id"], r["simhash"])
        for r in dedup.simhash(docs, "doc_id", "text").collect()
    }
    got_sig = {
        (r["doc_id"], r["simhash"])
        for r in R.dedup_simhash_docs(spark, sf).collect()
    }
    assert got_sig == inline_sig and got_sig
    sig_df = dedup.simhash(docs, "doc_id", "text").localCheckpoint(eager=True)
    inline_pairs = {
        tuple(r)
        for r in dedup.simhash_hamming_pairs(
            sig_df, max_hamming=3, band_bits=15
        ).collect()
    }
    got_pairs = {tuple(r) for r in R.dedup_simhash_pairs(spark, sf).collect()}
    assert got_pairs == inline_pairs
    inline_mp = {
        tuple(r)
        for r in dedup.simhash_multiprobe_pairs(
            sig_df, max_hamming=7, band_bits=15
        ).collect()
    }
    got_mp = {
        tuple(r)
        for r in Q3["simhash_multiprobe_pairs_docs"][0](spark, sf).collect()
    }
    assert got_mp == inline_mp and got_mp


def test_minhash_stored_shingles_equals_inline(spark, tmp_path):
    """dedup_minhash_docs' stored-shingle path (prebuilt_shingles from
    the committed base) must emit exactly the in-line tokenize-per-query
    rows — minhash over the sorted-distinct sset equals minhash over raw
    shingles (order-free min, distinct-idempotent), and the exact-Jaccard
    verify is set-level."""
    from pyspark.sql import functions as F

    from data_ingestion_spark.functions import md5_hash60
    from data_ingestion_spark.operators import dedup
    from data_ingestion_spark.operators import registry as R
    from data_ingestion_spark.operators.registry import (
        _MINHASH_P,
        _minhash_ab,
    )
    from data_ingestion_spark.session import load_table

    # plant exact twins so the high-similarity regime is non-vacuous
    rnd = random.Random(21)
    vocab = [f"w{i}" for i in range(25)]
    rows = []
    for i in range(50):
        text = " ".join(rnd.choices(vocab, k=rnd.randrange(6, 30)))
        rows.append((i, text, "en", len(text)))
        if i % 10 == 0:
            rows.append((i + 100, text, "en", len(text)))  # twin
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    got = {tuple(r) for r in R.dedup_minhash_docs(spark, sf).collect()}

    def prehash(s):
        return md5_hash60(s) % _MINHASH_P

    def portable(h, i):
        a, b = _minhash_ab(i)
        return h * F.lit(a) % _MINHASH_P + F.lit(b)

    inline = {
        tuple(r)
        for r in dedup.minhash_near_dup(
            load_table(spark, sf, "documents"),
            id_col="doc_id", text_col="text", k=3,
            jaccard_distance_threshold=0.7, hash_fn=portable, band_r=2,
            prehash_fn=prehash,
        ).collect()
    }
    assert got == inline and got


def test_embsig_store_plans_probe_vtab_not_parquet(spark, tmp_path):
    """Plan pin: the stored consumers must scan the committed bucketed
    catalog tables (vtab_*) and never re-scan embeddings.parquet /
    documents.parquet — the amortization claim, checked in the plan."""
    from data_ingestion_spark.operators import registry as R
    from data_ingestion_spark.operators.registry3 import QUERIES as Q3

    sf = _emb_corpus(spark, tmp_path, n=90, seed=17)
    for fn in (R.knn_lsh_pairs, R.dedup_embedding_pairs,
               R.semantic_dedup_embeddings):
        plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        assert "vtab_" in plan, fn.__name__
        assert "embeddings.parquet" not in plan, fn.__name__
    sfd = _doc_corpus(spark, tmp_path / "docs")
    for fn in (R.dedup_simhash_docs, R.dedup_simhash_pairs,
               Q3["simhash_multiprobe_pairs_docs"][0]):
        name = getattr(fn, "__name__", "multiprobe")
        plan = fn(spark, sfd)._jdf.queryExecution().executedPlan().toString()
        assert "vtab_" in plan, name
        assert "documents.parquet" not in plan, name
