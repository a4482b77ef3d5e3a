"""Deduplication at training-data scale: exact, MinHash-LSH, SimHash,
n-gram Jaccard.

Scale notes (the part that matters at 100 TB):
- exact dedup keys on md5(text) — one hash-partitioned shuffle on a
  128-bit key, perfectly balanced regardless of content skew.
- MinHash runs entirely JVM-side: shingles via F.transform over a
  sequence (no explode of the document!), per-permutation min via
  F.array_min of xxhash64(shingle, seed) — so the signature matrix is
  computed in whole-stage codegen; only the band → bucket-join shuffles,
  and bucket keys are uniform hashes (no skew).
- candidate verification (exact Jaccard over shingle sets) happens only
  within LSH buckets — the classic candidate-pair reduction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, text_col: str = "text", keep_by: str | None = None) -> DataFrame:
    """Exact dedup by content hash; keeps the row(s) with the smallest
    ``keep_by`` per distinct text (deterministic), or an arbitrary row
    when keep_by is None (dropDuplicates). Ties at the group minimum
    all survive — including a group whose keep_by values are all null
    (every row ties at null under null-safe equality); pass a unique
    key as keep_by to guarantee exactly one row per group.

    Plan shape (the 100 TB-relevant part): the obvious
    ``Window.partitionBy(fingerprint)`` moves the FULL row payload
    through the exchange — at web scale that is the whole corpus
    through one shuffle. Instead, keep-first is expressed as

      1. a key-only aggregate ``fp -> (count, min(keep_by))`` kept to
         the DUPLICATED fingerprints (partial aggregation map-side, so
         the exchange carries ~32 bytes per distinct fp per partition,
         not payloads), then
      2. a left join of the original rows against that duplicates-only
         side; a row whose fp has no duplicates passes untouched, a
         duplicated fp keeps only rows at the group minimum.

    The duplicates side is sized by the number of DUP GROUPS, so AQE
    picks a broadcast join at realistic dup rates (payload never
    shuffles at all — the scan is the only full-data pass) and falls
    back to a sort-merge join when dup groups are genuinely huge, which
    is the same single payload exchange the window plan always paid.
    Tested equivalent to the window plan (dedup_keep_first gate query).
    """
    keyed = df.withColumn("__fp", F.md5(F.col(text_col)))
    if keep_by is None:
        # dropDuplicates partial-aggregates map-side already: each
        # partition forwards one candidate row per distinct fp
        return keyed.dropDuplicates(["__fp"]).drop("__fp")
    # __dup marks the joined side explicitly: `__min IS NULL` alone
    # cannot distinguish "fp has no duplicates" (join miss — keep the
    # row) from "duplicate group whose keep_by values are ALL null"
    # (min(keep_by) null — keep exactly the null-keyed rows, i.e. the
    # group minimum under null-safe equality, matching the window
    # plan's first_value semantics).
    dups = (
        keyed.groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("__c"), F.min(keep_by).alias("__min"))
        .filter(F.col("__c") > 1)
        .select("__fp", "__min", F.lit(True).alias("__dup"))
    )
    return (
        keyed.join(dups, "__fp", "left")
        .filter(F.col("__dup").isNull() | F.col(keep_by).eqNullSafe(F.col("__min")))
        .drop("__fp", "__min", "__dup")
    )


def shingles(text_col: str, n: int = 5):
    """Word n-gram shingles as an array column, computed JVM-side:
    transform(sequence(0, n_tokens-n), i -> concat_ws over slice)."""
    toks = F.split(F.col(text_col), " ")
    count = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), count - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str = "text", n_hashes: int = 64,
    shingle_n: int = 5, hash_family: str = "xxhash"
) -> DataFrame:
    """Per-id minhash signature as columns ``__m0..__m{n-1}``.

    sig[j] = min over shingles s of xxhash64(h(s), j) — the standard
    min-wise permutation family (Broder 1997): Pr[sig_a[j] ==
    sig_b[j]] = Jaccard(a, b).

    Plan shape (the 100 TB-relevant part): a shingle's base hash is
    xxhash64 over the slice of token hashes — the n-gram STRINGS are
    never materialized (at web scale that's the difference between
    allocating ~n_tokens×shingle_n bytes of transient strings per
    document and none). Tokens are NOT hashed once each, though: the
    per-shingle lambda captures the whole ``th = transform(split(text),
    xxhash64)`` expression, which Catalyst re-evaluates per shingle, so
    every token array is re-split and re-hashed once per shingle. The
    base hashes are exploded to (id, h) pairs and the n permutation
    minima are n ``min(xxhash64(h, j))`` aggregates in a single
    whole-stage-codegen'd hash aggregation. Because a document's
    shingles are colocated in its input partition, the map-side partial
    aggregate collapses to one row per doc before the (only) shuffle —
    rehashing an int64 per permutation is codegen'd JVM work, unlike
    re-hashing shingles n times through interpreted higher-order
    functions.
    """
    # Shingle hashing is COMPUTE-bound, not IO-bound: a small parquet
    # file arrives as one input partition, which would serialize the
    # whole hashing stage on one core (measured 2.5s -> 1.4s at sf0.1).
    # At 100 TB the input already has >> defaultParallelism partitions
    # and this is a no-op.
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        df = df.repartition(target)
    toks = F.split(F.col(text_col), " ")
    count = F.greatest(F.size(toks) - (shingle_n - 1), F.lit(1))
    if hash_family == "md5":
        # Engine-portable variant (the oracle-checkable gate config):
        # shingle STRINGS are materialized and each permutation is
        # md5_60_hash("j:" + shingle) — DuckDB reproduces every value
        # exactly. Costlier than the xxhash64 path; test-scale use.
        sh_s = F.transform(
            F.sequence(F.lit(0), count - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, shingle_n)),
        )
        ex = df.select(F.col(id_col), F.explode(sh_s).alias("__s"))
        aggs = [
            F.min(md5_60_hash(F.concat_ws(":", F.lit(str(j)), F.col("__s")))).alias(f"__m{j}")
            for j in range(n_hashes)
        ]
        return ex.groupBy(id_col).agg(*aggs)
    th = F.transform(toks, lambda t: F.xxhash64(t))
    sh_h = F.transform(
        F.sequence(F.lit(0), count - 1),
        lambda i: F.xxhash64(F.slice(th, i + 1, shingle_n)),
    )
    ex = df.select(F.col(id_col), F.explode(sh_h).alias("__h"))
    aggs = [
        F.min(F.xxhash64(F.col("__h"), F.lit(j))).alias(f"__m{j}")
        for j in range(n_hashes)
    ]
    return ex.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.5,
    hash_family: str = "xxhash",
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH, verified by
    estimated Jaccard = fraction of agreeing signature components.

    Plan shape: signatures JVM-side → explode to (band, band_hash)
    (bands ≈ 16 rows/doc, tiny) → self-join on uniform band-hash keys →
    distinct pairs → signature-agreement filter. Returns (id_a, id_b,
    jaccard_est) with id_a < id_b.

    With hash_family="md5" and bands == n_hashes (one row per band) the
    whole pipeline — signatures, candidate generation, agreement filter
    — is deterministic AND reproducible in plain SQL, so a DuckDB oracle
    matches the output hash-exactly (the gate config).
    """
    rows_per_band = n_hashes // bands
    # The signature feeds BOTH sides of the self-join: materialize it or
    # the shingle+hash aggregation runs twice (measured 2x on the bench).
    # localCheckpoint rather than persist so the blocks are freed by the
    # ContextCleaner when the result is garbage-collected — repeated
    # calls in a long session must not accumulate pinned storage.
    sig = minhash_signature(
        df, id_col, text_col, n_hashes, shingle_n, hash_family
    ).localCheckpoint(eager=True)
    # band hash = xxhash64 over the band's signature columns directly
    # (multi-column JVM hash; no string concat, no array element_at).
    banded = sig.select(
        F.col(id_col),
        F.array(*[F.col(f"__m{j}") for j in range(n_hashes)]).alias("__sig"),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[F.col(f"__m{b * rows_per_band + r}") for r in range(rows_per_band)]
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("__sig").alias("sig_a"), "band", "bucket"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("__sig").alias("sig_b"), "band", "bucket"
    )
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return (
        pairs.withColumn("jaccard_est", agree / F.lit(float(n_hashes)))
        .filter(F.col("jaccard_est") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard_est")
    )


def md5_60_hash(col):
    """Engine-portable 60-bit token hash (first 15 hex chars of md5 as
    int) — DuckDB computes the identical value, which makes simhash /
    minhash gate variants exactly oracle-checkable. xxhash64 stays the
    default (JVM-native, ~10x cheaper) for the scale path."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash(df: DataFrame, text_col: str = "text", out: str = "simhash",
            token_hash=None) -> DataFrame:
    """64-bit SimHash (Charikar 2002) over whitespace tokens, JVM-side.

    For each bit position b: sign of sum over tokens of
    (+1 if bit b of hash(token) set else -1). Near-duplicates have
    small Hamming distance. Implemented as 64 aggregate expressions over
    the token array — no shuffle, no Python. `token_hash` swaps the
    hash family (default xxhash64; md5_60_hash for the oracle-portable
    variant).
    """
    toks = F.split(F.col(text_col), " ")
    th = F.transform(toks, token_hash or (lambda t: F.xxhash64(t)))

    def voter(b: int):
        # closure factory, not a default arg — see perm() note above
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_exprs = []
    for b in range(64):
        vote = F.aggregate(th, F.lit(0).cast("long"), voter(b))
        bit_exprs.append(
            F.when(vote > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
                F.lit(0).cast("long")
            )
        )
    sh = bit_exprs[0]
    for e in bit_exprs[1:]:
        sh = sh.bitwiseOR(e)
    return df.withColumn(out, sh)


def simhash_near_dups(df: DataFrame, id_col: str, text_col: str = "text",
                      max_hamming: int = 3, n_blocks: int = 4,
                      token_hash=None) -> DataFrame:
    """Near-dup pairs by SimHash: block on n_blocks equal bit chunks of
    the 64-bit signature (the pigeonhole blocking of Manku et al. 2007),
    verify Hamming distance. Recall is GUARANTEED 100% whenever
    n_blocks > max_hamming: a pair within Hamming distance max_hamming
    differs in at most max_hamming chunks, so at least one chunk is
    equal and the pair is always a candidate — with e.g. n_blocks=16,
    max_hamming=10 the output is the EXACT brute-force pair set (the
    oracle-checkable gate config). The default 4x16-bit blocking is the
    recall-1 config for max_hamming <= 3.
    """
    bits = 64 // n_blocks
    mask = (1 << bits) - 1
    hashed = simhash(df, text_col, token_hash=token_hash).select(id_col, "simhash")
    chunks = hashed.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), bits * i).bitwiseAND(F.lit(mask))
                    for i in range(n_blocks)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    a = chunks.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("h_a"), "chunk_idx", "chunk")
    b = chunks.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("h_b"), "chunk_idx", "chunk")
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        a.join(b, ["chunk_idx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """EXACT n-gram Jaccard similarity for candidate pairs — the oracle
    for MinHash estimates. O(n^2) cross within small inputs; at scale,
    feed it only LSH candidate pairs. Jaccard via array_intersect /
    array_union on distinct shingle arrays (JVM-side)."""
    sh = df.select(F.col(id_col), F.array_distinct(shingles(text_col, n)).alias("sh"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int = 4,
    band_bits: int = 8,
    brute_force: bool = False,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) for
    all pairs with cosine >= threshold, id_a < id_b.

    Scale path (default): random-hyperplane LSH (Charikar 2002) bands —
    two vectors are candidates iff they share a sign-pattern bucket in
    ANY band; exact cosine verifies candidates. The self-join is on
    (band, bucket), a uniform key, so the shuffle is balanced and the
    quadratic blow-up is confined to bucket-local pairs. With
    brute_force=True does the O(n^2) cross-join — the correctness
    oracle at test scale.
    """
    import numpy as np

    def _dot(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)

    norm = F.sqrt(_dot(F.col(vec_col), F.col(vec_col)))
    base = df.select(id_col, F.col(vec_col)).withColumn("__norm", norm)

    if brute_force:
        a = base.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("__va"),
            F.col("__norm").alias("__na"),
        )
        b = base.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("__vb"),
            F.col("__norm").alias("__nb"),
        )
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        dim = len(df.select(vec_col).first()[0])
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((n_bands, band_bits, dim))
        banded = base
        for t in range(n_bands):
            acc = F.lit(0).cast("long")
            for bit in range(band_bits):
                plane = F.array(*[F.lit(float(v)) for v in planes[t, bit]])
                acc = acc.bitwiseOR(
                    F.shiftleft((_dot(F.col(vec_col), plane) > 0).cast("long"), bit)
                )
            banded = banded.withColumn(f"__b{t}", acc)
        buckets = banded.select(
            id_col, vec_col, "__norm",
            F.explode(
                F.array(*[
                    F.struct(F.lit(t).alias("band"), F.col(f"__b{t}").alias("bucket"))
                    for t in range(n_bands)
                ])
            ).alias("__bb"),
        ).select(id_col, vec_col, "__norm", "__bb.band", "__bb.bucket")
        a = buckets.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"),
            F.col("__norm").alias("__na"), "band", "bucket",
        )
        b = buckets.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"),
            F.col("__norm").alias("__nb"), "band", "bucket",
        )
        pairs = a.join(b, ["band", "bucket"]).filter(F.col("id_a") < F.col("id_b")).dropDuplicates(
            ["id_a", "id_b"]
        )

    cos = _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
