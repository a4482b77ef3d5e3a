"""Deduplication at training-data scale: exact, MinHash-LSH, SimHash,
n-gram Jaccard.

Scale notes (the part that matters at 100 TB):
- exact dedup keys on md5(text) — one hash-partitioned shuffle on a
  128-bit key, perfectly balanced regardless of content skew.
- MinHash runs entirely JVM-side: each token is hashed once into a
  projected column, the shingle hashes come from one F.transform over
  the window starts (no explode of the document!), and the permutation
  minima are min(xxhash64(h, j)) aggregates in one codegen'd hash
  aggregation; only the band → bucket-join shuffles, and bucket keys
  are uniform hashes (no skew).
- SimHash is one aggregate over the token hashes with 64 counters.
- No lambda captures a computed expression (a lambda re-evaluates one
  per array element); token arrays enter as a column or a variable.
- candidate verification (exact Jaccard over shingle sets) happens only
  within LSH buckets — the classic candidate-pair reduction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mlrsketch.pipeline.similarity import _bucket_codes, _dot, _hyperplanes, _norm
# the engine-portable 60-bit hash of the simhash / minhash gate variants
# (DuckDB computes the identical value); xxhash64 stays the scale path
from mlrsketch.verbs.exact import md5_60 as md5_60_hash


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


def _ngrams(toks: Column, n: int, combine) -> Column:
    """``combine(slice)`` over every window of n consecutive tokens (one
    window when there are fewer than n). `toks` must be a column or a
    lambda variable: a computed expression captured by the window lambda
    would be evaluated again for every window."""
    count = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), count - 1), lambda i: combine(F.slice(toks, i + 1, n))
    )


def shingles(text_col: str, n: int = 5):
    """Word n-gram shingles as an array column, computed JVM-side. The
    text is split once per row: the split is the start value of an
    ``aggregate`` over an empty array, whose finish lambda receives it as
    a variable."""
    return F.aggregate(
        F.array(), F.split(F.col(text_col), " "), lambda acc, _: acc,
        lambda toks: _ngrams(toks, n, lambda s: F.concat_ws(" ", s)),
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
    document and none). Each token is hashed once: the token hashes are
    projected as a column ``__th`` and the per-shingle lambda reads only
    that column (``_ngrams`` references it twice, which keeps the
    optimizer from inlining the hashing back into the lambda). The base
    hashes are exploded to (id, h) pairs and the n permutation minima
    are n ``min(xxhash64(h, j))`` aggregates in a single
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
    if hash_family == "md5":
        # Engine-portable variant (the oracle-checkable gate config):
        # shingle STRINGS are materialized and each permutation is
        # md5_60_hash("j:" + shingle) — DuckDB reproduces every value
        # exactly. Costlier than the xxhash64 path; test-scale use.
        ex = df.select(F.col(id_col), F.explode(shingles(text_col, shingle_n)).alias("__s"))
        aggs = [
            F.min(md5_60_hash(F.concat_ws(":", F.lit(str(j)), F.col("__s")))).alias(f"__m{j}")
            for j in range(n_hashes)
        ]
        return ex.groupBy(id_col).agg(*aggs)
    th = df.select(
        F.col(id_col),
        F.transform(F.split(F.col(text_col), " "), lambda t: F.xxhash64(t)).alias("__th"),
    )
    ex = th.select(
        F.col(id_col), F.explode(_ngrams(F.col("__th"), shingle_n, F.xxhash64)).alias("__h")
    )
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


def simhash(df: DataFrame, text_col: str = "text", out: str = "simhash",
            token_hash=None) -> DataFrame:
    """64-bit SimHash (Charikar 2002) over whitespace tokens, JVM-side.

    For each bit position b: sign of sum over tokens of
    (+1 if bit b of hash(token) set else -1). Near-duplicates have
    small Hamming distance. Implemented as ONE ``aggregate`` over the
    token hashes with 64 counters as its accumulator — one pass, no
    shuffle, no Python; the hashes are its argument, evaluated once per
    row. `token_hash` swaps the hash family (default xxhash64;
    md5_60_hash for the oracle-portable variant). A null text hashes
    to 0.
    """
    th = F.transform(F.split(F.col(text_col), " "), token_hash or (lambda t: F.xxhash64(t)))
    zero, one = F.lit(0).cast("long"), F.lit(1).cast("long")

    def vote(counters, h):
        return F.transform(counters, lambda c, b: c + F.when(
            F.call_function("shiftright", h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1))

    def fold(counters):
        bits = F.transform(
            counters, lambda c, b: F.when(c > 0, F.call_function("shiftleft", one, b)).otherwise(zero)
        )
        return F.aggregate(bits, zero, lambda acc, v: acc.bitwiseOR(v))

    sh = F.aggregate(th, F.array_repeat(zero, 64), vote, fold)
    return df.withColumn(out, F.coalesce(sh, zero))


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
    ANY band; exact cosine verifies candidates. The band codes come from
    similarity's bucketer (the band index rides in each code's high
    bits), so the self-join is on one uniform key, the shuffle is
    balanced and the quadratic blow-up is confined to bucket-local
    pairs. With brute_force=True does the O(n^2) cross-join — the
    correctness oracle at test scale.
    """
    rows = df.select(id_col, vec_col, _norm(F.col(vec_col)).alias("__norm"))
    cond = F.col("id_a") < F.col("id_b")
    if not brute_force:
        dim = len(df.select(vec_col).first()[0])
        planes = _hyperplanes(dim, n_bands, band_bits, seed)
        rows = rows.withColumn("__k", F.explode(_bucket_codes(F.col(vec_col), planes)))
        cond = cond & (F.col("__ka") == F.col("__kb"))

    def side(s: str) -> DataFrame:
        cols = [F.col(id_col).alias(f"id_{s}"), F.col(vec_col).alias(f"__v{s}"),
                F.col("__norm").alias(f"__n{s}")]
        return rows.select(*cols, *([] if brute_force else [F.col("__k").alias(f"__k{s}")]))

    pairs = side("a").join(side("b"), cond)
    if not brute_force:
        pairs = pairs.dropDuplicates(["id_a", "id_b"])

    cos = _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
