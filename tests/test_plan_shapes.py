"""Physical-plan regression guards for the 100 TB design claims.

Every claim PLANS.md makes about a representative query is asserted
here against the live Catalyst plan, so a refactor that silently
reintroduces a scale-killer (a SinglePartition funnel, a lost parquet
pushdown, a Python eval node in a tier-1 path, a raw-row shuffle in a
sketch plan) fails CI instead of surviving until a scale run.

Checks mirror scripts/gen_plans.py's query set:
 - filters/columns pushed into the parquet scan (PushedFilters /
   ReadSchema pruning),
 - partial/final HashAggregate around one exchange (map-side combine),
 - small dims resolve as BroadcastHashJoin,
 - global top-n is TakeOrderedAndProject (no global sort),
 - sketch plans move KB states through the ONLY exchange (no raw-row
   shuffle), Python appears only as Arrow-batched MapInPandas /
   FlatMapGroupsInPandas,
 - the de-single-tasked ungrouped order-dependent paths (step, rank,
   stats1 -w, fraction -c) contain NO SinglePartition exchange,
 - tier-1 DSL programs compile to pure Catalyst (no BatchEvalPython /
   ArrowEvalPython anywhere in the plan).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mlrsketch import dsl
from mlrsketch.verbs import exact as ev
from mlrsketch.verbs import sketch as sv

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def tree(p: str) -> str:
    """Operator tree only (formatted explain repeats node names in the
    per-node details section, which would double-count them)."""
    return p.split("\n\n")[0]


@pytest.fixture(scope="module", autouse=True)
def no_aqe(spark):
    """AQE defers the physical plan (isFinalPlan=false hides the
    WholeStageCodegen spans and exchange placement); turn it off while
    auditing plan shapes so explain() shows the full static plan."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", prev)


@pytest.fixture(scope="module")
def tables(spark):
    return {
        name: spark.read.parquet(f"{SF}/{name}.parquet")
        for name in ("lineitem", "orders", "customer", "nation", "documents")
    }


def test_stats1_pushdown_and_partial_final(spark, tables):
    p = plan(
        spark,
        ev.stats1(
            tables["lineitem"].filter(F.col("l_shipdate") >= "1995-01-01"),
            accs=["count", "sum", "mean", "min", "max"],
            values=["l_quantity"],
            by=["l_returnflag", "l_linestatus"],
        ),
    )
    # filter reaches the parquet scan
    assert "PushedFilters" in p and "IsNotNull(l_shipdate)" in p, p
    assert "GreaterThanOrEqual(l_shipdate" in p, p
    # column pruning: the 16-column table scans only the 4 referenced
    assert "l_comment" not in p, "scan reads unreferenced columns"
    # map-side combine: partial + final HashAggregate around one exchange
    assert tree(p).count("HashAggregate") >= 2, p
    assert tree(p).count("Exchange") == 1, p
    # '*' prefix = inside a WholeStageCodegen span: scan-side filter,
    # projection and partial aggregate are all codegen'd
    assert "* HashAggregate" in tree(p) and "* Filter" in tree(p), p


def test_join_broadcasts_small_dim(spark, tables):
    q = (
        ev.join(
            tables["orders"],
            tables["customer"].withColumnRenamed("c_custkey", "o_custkey"),
            ["o_custkey"],
        )
        .join(
            F.broadcast(tables["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    p = plan(spark, q)
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastExchange" in p, p


def test_global_top_is_take_ordered(spark, tables):
    p = plan(
        spark, ev.top(tables["orders"], "o_totalprice", n=5, tiebreak=["o_orderkey"])
    )
    assert "TakeOrderedAndProject" in p, p
    assert "SinglePartition" not in p, p


def test_sketch_plan_shuffles_states_not_rows(spark, tables):
    p = plan(
        spark, sv.count_distinct_hll(tables["documents"], "text", ["lang"], p=12)
    )
    # Python only as Arrow-batched partial/merge stages
    assert "MapInPandas" in p, p
    assert "FlatMapGroupsInPandas" in p, p
    assert "BatchEvalPython" not in p, p
    # the ONLY exchange moves the KB-scale sketch states
    assert tree(p).count("Exchange") == 1, p
    # hashing happens JVM-side before Python ever sees data
    assert "xxhash64" in p, p


def test_ungrouped_paths_have_no_single_partition_funnel(spark, tables):
    li = (
        tables["lineitem"]
        .select("l_orderkey", "l_extendedprice", "l_quantity")
        .withColumn("__ord", F.monotonically_increasing_id())
    )
    cases = {
        "step": ev.step(
            li, ["rsum", "shift", "delta"], ["l_extendedprice"], order_by=["__ord"]
        ),
        "stats1_w": ev.stats1_windowed(
            li, ["mean", "min", "max"], ["l_extendedprice"], 10, order_by=["__ord"]
        ),
        "rank": ev.rank(li.select("l_quantity"), "l_quantity"),
        "fraction_c": ev.fraction(
            tables["orders"], "o_totalprice", cumulative=True,
            order_by=["o_orderkey"],
        ),
        "stats1_s": ev.stats1_iterative(
            li, ["count", "mean", "min"], ["l_extendedprice"], order_by=["__ord"]
        ),
    }
    for name, df in cases.items():
        p = plan(spark, df)
        assert "SinglePartition" not in p, f"{name} funnels through one task:\n{p}"


def test_tier1_dsl_compiles_to_pure_catalyst(spark, tables):
    df = dsl.put(
        tables["lineitem"],
        '$ratio = $l_extendedprice / $l_quantity;'
        '$bucket = $ratio > 1000 ? "high" : "low";'
        '$tag = toupper($l_returnflag) . "-" . string($l_linenumber)',
    )
    out = dsl.filter_records(df, '$bucket == "high" && $l_quantity > 10')
    p = plan(spark, out)
    assert "BatchEvalPython" not in p, p
    assert "ArrowEvalPython" not in p, p
    assert "* Project" in tree(p), p  # the DSL projection is codegen'd
    # the filter half pushes down to the scan
    assert "PushedFilters" in p and "GreaterThan(l_quantity" in p, p


def test_exact_dedup_keep_first_never_shuffles_payload(spark, tables):
    """keep-first dedup: the only full-data pass is the scan. The group
    minimum travels as a key-only aggregate (partial/final around one
    KB-scale exchange) and rows re-join against the DUPLICATES-ONLY
    side — no Window over the fingerprint, no payload exchange on the
    probe side of the join."""
    from mlrsketch.pipeline import dedup as dd

    df = dd.exact_dedup(
        tables["documents"].select("doc_id", "text"), "text", keep_by="doc_id"
    )
    p = plan(spark, df)
    assert "Window" not in p, p
    # the aggregate side is partial/final (map-side combine before the
    # key-only exchange)
    assert "partial_count" in p or "HashAggregate" in p, p


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def lambda_bodies(p: str) -> list[str]:
    """The text of every ``lambdafunction(...)`` in a plan string."""
    bodies, start = [], p.find("lambdafunction(")
    while start >= 0:
        depth, end = 0, start + len("lambdafunction")
        while True:
            depth += {"(": 1, ")": -1}.get(p[end], 0)
            end += 1
            if depth == 0:
                break
        bodies.append(p[start:end])
        start = p.find("lambdafunction(", start + 1)
    return bodies


def test_token_arrays_are_split_once(spark, tables):
    """Each text is split, and each token hashed, once per row. A lambda
    that captured the split (instead of reading a projected column or a
    lambda variable) would run it once per array element: the plan would
    show `split(` inside a lambda body, or once per simhash bit."""
    from mlrsketch.pipeline import dedup as dd

    docs = tables["documents"]
    cases = {
        "minhash xxhash": dd.minhash_signature(docs, "doc_id", "text", 8),
        "minhash md5": dd.minhash_signature(docs, "doc_id", "text", 8, hash_family="md5"),
        "simhash xxhash": dd.simhash(docs, "text"),
        "simhash md5": dd.simhash(docs, "text", token_hash=dd.md5_60_hash),
        "ngram_jaccard_pairs": dd.ngram_jaccard_pairs(docs, "doc_id", "text", n=2),
    }
    for name, df in cases.items():
        p = optimized(df)
        # once per scan of the input: the n-gram self-join reads it twice
        assert p.count("split(") == p.count("Relation ["), (name, p)
        assert not any("split(" in b for b in lambda_bodies(p)), (name, p)
    assert optimized(cases["simhash md5"]).count("aggregate(") == 2  # the pass + its fold


def test_lsh_plan_does_not_grow_with_tables_and_bits(spark):
    """lsh_topk computes every table's bucket code in one expression over
    one planes literal, so its plan has as many dot products at 8 x 12
    as at 2 x 8."""
    from mlrsketch.pipeline import similarity as sim

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.first()["embedding"]]

    def counts(n_tables, bits):
        p = optimized(sim.lsh_topk(emb, q, k=10, n_tables=n_tables, bits=bits))
        return p.count("zip_with("), p.count("aggregate(")

    assert counts(8, 12) == counts(2, 8)
