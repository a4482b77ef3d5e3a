"""Plain-Python references for the JVM-side dedup expressions: SimHash's
64 bit votes and the word n-gram shingles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mlrsketch.pipeline import dedup


def _simhash_ref(hashes: list[int]) -> int:
    """Bit b is set when more tokens have bit b of their hash set than
    not (a tie votes 0); the result is read back as a signed int64."""
    out = 0
    for b in range(64):
        if sum(1 if (h >> b) & 1 else -1 for h in hashes) > 0:
            out |= 1 << b
    return out - (1 << 64) if out >= 1 << 63 else out


@pytest.mark.parametrize("family", ["xxhash64", "md5_60"])
def test_simhash_matches_python_votes(spark, docs, family):
    token_hash = None if family == "xxhash64" else dedup.md5_60_hash
    toks = F.split(F.col("text"), " ")
    th = F.transform(toks, token_hash or (lambda t: F.xxhash64(t)))
    extra = spark.createDataFrame([(-1, None), (-2, ""), (-3, "a a b")], "doc_id long, text string")
    df = docs.select("doc_id", "text").unionByName(extra)
    want = {r["doc_id"]: 0 if r["th"] is None else _simhash_ref(r["th"])
            for r in df.select("doc_id", th.alias("th")).collect()}
    hashed = dedup.simhash(df, "text", token_hash=token_hash).select("doc_id", "simhash")
    got = {r["doc_id"]: r["simhash"] for r in hashed.collect()}
    assert got == want
    assert got[-1] == 0  # a null text


def test_shingles_match_python_ngrams(spark, docs):
    def ngrams(text: str | None, n: int) -> list[str]:
        t = text.split(" ") if text is not None else []  # a null text: one "" shingle
        return [" ".join(t[i:i + n]) for i in range(max(len(t) - n + 1, 1))]

    extra = spark.createDataFrame([(-1, None), (-2, ""), (-3, "a b")], "doc_id long, text string")
    df = docs.select("doc_id", "text").unionByName(extra)
    for n in (1, 3):
        sh = df.select("doc_id", dedup.shingles("text", n).alias("sh"))
        got = {r["doc_id"]: r["sh"] for r in sh.collect()}
        want = {r["doc_id"]: ngrams(r["text"], n) for r in df.collect()}
        assert got == want, n
