"""Dedup / similarity / multimodal pipeline tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mlrsketch.pipeline import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def dup_docs(spark):
    """Docs with planted exact and near duplicates."""
    base = "the quick brown fox jumps over the lazy dog again and again tonight"
    near = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different content about spark aggregation engines at scale"
    rows = [
        (0, base), (1, base),           # exact dup pair
        (2, near),                       # near dup of 0/1
        (3, other), (4, other + " x"),  # near dup pair
        (5, "unique five tokens entirely standalone"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_exact_dedup_keep_first(spark, dup_docs):
    out = dedup.exact_dedup(dup_docs, "text", keep_by="doc_id")
    ids = {r["doc_id"] for r in out.collect()}
    assert 0 in ids and 1 not in ids
    assert out.count() == 5


def test_minhash_finds_planted_near_dups(spark, dup_docs):
    pairs = dedup.minhash_lsh_pairs(
        dup_docs, "doc_id", "text", n_hashes=64, bands=16, shingle_n=2, jaccard_threshold=0.5
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in found  # exact dup: jaccard_est == 1
    assert (3, 4) in found
    est = {(r["id_a"], r["id_b"]): r["jaccard_est"] for r in pairs}
    assert est[(0, 1)] == 1.0


def test_minhash_estimate_close_to_exact_jaccard(spark, dup_docs):
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(dup_docs, "doc_id", "text", n=2, threshold=0.3).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]): r["jaccard_est"]
        for r in dedup.minhash_lsh_pairs(
            dup_docs, "doc_id", "text", n_hashes=128, bands=32, shingle_n=2, jaccard_threshold=0.3
        ).collect()
    }
    for pair, j in exact.items():
        if pair in approx:
            # binomial stderr of the 128-sample estimate
            assert abs(approx[pair] - j) <= 3 * np.sqrt(j * (1 - j) / 128) + 0.05


def test_simhash_hamming_orders_similarity(spark, dup_docs):
    pairs = dedup.simhash_near_dups(dup_docs, "doc_id", "text", max_hamming=64).collect()
    ham = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert ham[(0, 1)] == 0  # identical text -> identical simhash
    if (0, 2) in ham and (0, 3) in ham:
        assert ham[(0, 2)] < ham[(0, 3)]  # near dup closer than unrelated


def test_brute_force_topk_self_is_best(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = [float(x) for x in emb.filter("vec_id = 7").first()["embedding"]]
    top = similarity.brute_force_topk(emb, q, k=3).collect()
    assert top[0]["vec_id"] == 7 and abs(top[0]["cosine"] - 1.0) < 1e-6


def test_lsh_topk_recall_vs_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).cache()
    q = [float(x) for x in emb.filter("vec_id = 3").first()["embedding"]]
    exact_ids = [r["vec_id"] for r in similarity.brute_force_topk(emb, q, k=10).collect()]
    ann_ids = [r["vec_id"] for r in similarity.lsh_topk(emb, q, k=10, n_tables=16, bits=6).collect()]
    recall = len(set(exact_ids) & set(ann_ids)) / 10
    assert recall >= 0.5, f"LSH recall too low: {recall}"
    assert ann_ids[0] == 3  # self always survives (shares every bucket)


def test_multimodal_image_features(spark, dup_docs):
    withbin = multimodal.attach_fake_payload(dup_docs)
    feats = multimodal.image_features(withbin, "payload", "doc_id").collect()
    assert len(feats) == dup_docs.count()
    assert all(len(r["features"]) == 3 for r in feats)
    # deterministic: same payload -> same features
    by_id = {r["doc_id"]: r["features"] for r in feats}
    assert by_id[0] == by_id[1]


def test_multimodal_frame_sample(spark, dup_docs):
    withbin = multimodal.attach_fake_payload(dup_docs)
    frames = multimodal.frame_sample(withbin, "payload", every_nth=1)
    assert frames.count() >= dup_docs.count()
    assert "frame_idx" in frames.columns


def test_lang_id_marker_detection(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "der hund und die katze und der vogel"),
            (3, "xyzzy plugh quux"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["lang_pred"] for r in textstats.lang_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_quality_score_range(spark, docs):
    out = textstats.quality_score(docs)
    bad = out.filter((F.col("quality_score") < 0) | (F.col("quality_score") > 1)).count()
    assert bad == 0


def test_quality_score_of_empty_text_is_null(spark, docs):
    """'' has no characters to take a ratio of: its alpha_ratio and score
    are null (as the SQL reference's ``/ nc`` gives), not a failed job."""
    empty = spark.createDataFrame([(-1, "")], "doc_id long, text string")
    out = textstats.quality_score(docs.select("doc_id", "text").unionByName(empty))
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == docs.count() + 1
    assert rows[-1]["alpha_ratio"] is None and rows[-1]["quality_score"] is None
    assert rows[-1]["len_score"] == 0.0
    assert all(r["quality_score"] is not None for k, r in rows.items() if k != -1)


def test_ivf_topk_recall(spark):
    from pyspark.sql import functions as F

    from mlrsketch.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    query = [float(x) for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    exact = {r["vec_id"] for r in similarity.brute_force_topk(emb, query, k=10).collect()}

    indexed, cent = similarity.ivf_index(emb, k=8, sample_n=500, seed=42)
    # nprobe = all buckets must reproduce brute force exactly
    allp = {r["vec_id"] for r in similarity.ivf_topk(indexed, cent, query, k=10, nprobe=8).collect()}
    assert allp == exact
    # nprobe=3 of 8 buckets: decent recall at ~3/8 of the scan
    part = {r["vec_id"] for r in similarity.ivf_topk(indexed, cent, query, k=10, nprobe=3).collect()}
    assert len(part & exact) >= 6, (part, exact)


# -- round-5 exact-recall gate configs (the oracle-checkable variants) --------


def test_embedding_lsh_gate_recall(spark, sf_dir):
    """32 bands x 1 bit: the LSH pair set must EQUAL the brute-force
    pair set on the gate tables (miss probability <= 4e-15 per pair) —
    this equality is what licenses the brute-force SQL as the driver
    oracle for embedding_near_dups_lsh."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).cache()
    brute = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(
            emb, "vec_id", threshold=0.45, brute_force=True
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(
            emb, "vec_id", threshold=0.45, n_bands=32, band_bits=1
        ).collect()
    }
    assert lsh == brute


def test_ann_lsh_gate_equals_brute(spark, sf_dir):
    """32 tables x 1 bit: lsh_topk must return exactly the brute-force
    top-k (licenses the brute SQL as the ann_lsh oracle)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).cache()
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    exact = [(r["vec_id"], r["cosine"]) for r in similarity.brute_force_topk(emb, q, k=10).collect()]
    ann = [(r["vec_id"], r["cosine"]) for r in similarity.lsh_topk(emb, q, k=10, n_tables=32, bits=1).collect()]
    assert ann == exact


def test_simhash_gate_recall_is_exhaustive(spark, dup_docs):
    """n_blocks=16 > max_hamming=10 => pigeonhole guarantees every
    qualifying pair is a candidate: the blocked output equals the
    all-pairs (max_hamming=64 blocked at 1 block... i.e. brute) set."""
    # brute force: join every pair via a single shared block (n_blocks=1
    # cannot split 64 bits -> emulate with max_hamming=64 at default
    # blocking, which makes every pair with ANY shared chunk... instead
    # compute all-pairs hamming directly from the signature df.
    sig = dedup.simhash(dup_docs, "text", token_hash=dedup.md5_60_hash).select("doc_id", "simhash")
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"))
    brute = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("h", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("h") <= 10)
        .collect()
    }
    blocked = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_near_dups(
            dup_docs, "doc_id", "text", max_hamming=10, n_blocks=16,
            token_hash=dedup.md5_60_hash,
        ).collect()
    }
    assert blocked == brute


def test_exact_dedup_null_keep_by_groups(spark):
    """A duplicate group whose keep_by values are ALL null must not leak
    every row as if it had no duplicates (join-miss vs null-min
    ambiguity): nulls tie at the minimum and only drop against a
    non-null competitor."""
    rows = [
        (None, "dup-all-null"), (None, "dup-all-null"),   # all-null group
        (None, "dup-mixed"), (5, "dup-mixed"),            # null vs 5
        (1, "unique-a"),
        (None, "unique-b"),                               # singleton, null key
    ]
    df = spark.createDataFrame(rows, "keep_by int, text string")
    out = dedup.exact_dedup(df, "text", keep_by="keep_by").collect()
    by_text = {}
    for r in out:
        by_text.setdefault(r["text"], []).append(r["keep_by"])
    # all-null group: both rows tie at null (documented semantics)
    assert by_text["dup-all-null"] == [None, None]
    # mixed group: min() ignores nulls -> the non-null minimum wins
    assert by_text["dup-mixed"] == [5]
    # singletons pass untouched regardless of null keys
    assert by_text["unique-a"] == [1] and by_text["unique-b"] == [None]
