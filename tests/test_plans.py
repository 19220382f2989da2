"""Physical-plan shape assertions (SURVEY.md §4): the optimizations we rely
on must actually appear in the executed plan — pushdown, column pruning,
broadcast joins, partial aggregation, no shuffles in map-only paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(spark, df, mode: str = "formatted") -> str:
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_filter_pushdown_and_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    p = _plan(spark, df)
    assert "PushedFilters" in p and "l_quantity" in p.split("PushedFilters")[1][:200]
    # column pruning: ReadSchema carries only the 2 needed columns
    rs = p.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" in rs and "l_extendedprice" not in rs


def test_broadcast_join_is_broadcast(spark):
    c = spark.read.parquet(f"{SF}/customer.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    df = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    assert "BroadcastHashJoin" in _plan(spark, df)


def test_anti_join_strategy(spark):
    c = spark.read.parquet(f"{SF}/customer.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    df = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    p = _plan(spark, df)
    assert "LeftAnti" in p


def test_agg_has_partial_phase(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    p = _plan(spark, df)
    # partial + final hash aggregate = map-side combine before the shuffle
    assert p.count("HashAggregate") >= 2


def test_first_wins_uses_partial_min_by(spark):
    from croawl_spark.operators.dedup import first_wins

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = first_wins(li, "l_orderkey", ["l_linenumber"])
    p = _plan(spark, df)
    assert "min_by" in p and p.count("Aggregate") >= 2
    assert "Window" not in p  # the whole point: no full-row window shuffle


def test_asof_join_collapses_before_shuffle(spark):
    """J6 aggregate form: no Window anywhere, and the max_by aggregate has
    a partial phase — the per-key match explosion collapses map-side."""
    from croawl_spark.operators.asof import asof_join

    e = spark.read.parquet(f"{SF}/events.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    df = asof_join(
        e, o,
        on=(e.user_id == o.o_custkey) & (o.o_orderdate <= e.ts),
        left_key="event_id", pick="o_orderkey",
        order_by=["o_orderdate", "o_orderkey"], alias="asof_orderkey",
    )
    p = _plan(spark, df)
    assert "Window" not in p
    assert "max_by" in p and p.count("Aggregate") >= 2  # partial + final


def test_asof_join_equals_window_form(spark):
    from pyspark.sql import Window

    from croawl_spark.operators.asof import asof_join

    e = spark.read.parquet(f"{SF}/events.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    agg = asof_join(
        e, o,
        on=(e.user_id == o.o_custkey) & (o.o_orderdate <= e.ts),
        left_key="event_id", pick="o_orderkey",
        order_by=["o_orderdate", "o_orderkey"], alias="asof_orderkey",
    )
    j = e.join(o, (e.user_id == o.o_custkey) & (o.o_orderdate <= e.ts), "left")
    w = Window.partitionBy("event_id").orderBy(
        F.col("o_orderdate").desc_nulls_last(), F.col("o_orderkey").desc_nulls_last()
    )
    win = (
        j.withColumn("_r", F.row_number().over(w))
        .filter("_r = 1")
        .select("event_id", F.col("o_orderkey").alias("asof_orderkey"))
    )
    assert agg.exceptAll(win).count() == 0 and win.exceptAll(agg).count() == 0


def test_extract_path_has_no_shuffle(spark):
    """§3.2: scan -> mapInPandas -> result must be exchange-free."""
    from croawl_spark.plans.extract import extract_metadata
    from croawl_spark.tables import DOCUMENTS_INTERLEAVED

    docs = spark.createDataFrame(
        [("d1", [("text", "<meta name='DC.title' content='t'>", None, 0)])],
        DOCUMENTS_INTERLEAVED,
    )
    p = _plan(spark, extract_metadata(docs))
    assert "Exchange" not in p


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """The production layout story (Iceberg bucket(N, url_hash), SURVEY
    §1.2): two tables bucketed+sorted on the join key must join with NO
    Exchange on either input — storage-side co-partitioning replaces the
    shuffle. This is the plan the frontier⋈seen anti-join gets on a real
    warehouse."""
    c = spark.read.parquet(f"{SF}/customer.parquet").select("c_custkey", "c_name")
    o = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_custkey")
    spark.sql("DROP TABLE IF EXISTS _bt_cust")
    spark.sql("DROP TABLE IF EXISTS _bt_ord")
    (c.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", str(tmp_path / "bt_cust")).saveAsTable("_bt_cust"))
    (o.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", str(tmp_path / "bt_ord")).saveAsTable("_bt_ord"))
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the shuffle-join path is what's under test
        # (at 10^10 rows neither side broadcasts anyway)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bc = spark.table("_bt_cust")
        bo = spark.table("_bt_ord")
        j = bc.join(bo, bc.c_custkey == bo.o_custkey)
        plan = _plan(spark, j)
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.sql("DROP TABLE IF EXISTS _bt_cust")
        spark.sql("DROP TABLE IF EXISTS _bt_ord")


def test_whole_stage_codegen_in_relational_path(spark):
    # AQE hides codegen spans in 'formatted' mode pre-execution; 'codegen'
    # mode reports the generated subtrees directly
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.filter("l_discount > 0.02").groupBy("l_returnflag").count()
    assert "WholeStageCodegen" in _plan(spark, df, "codegen")


def test_salted_ranking_partitions_by_salt(spark):
    from croawl_spark.functions import urls as U
    from croawl_spark.operators.ranking import salted_topk

    o = spark.read.parquet(f"{SF}/orders.parquet")
    fr = o.select(
        F.concat(F.lit("http://h"), (F.col("o_custkey") % 5).cast("string"),
                 F.lit(".t/p/"), F.col("o_orderkey").cast("string")).alias("canon_url"),
        F.lit(0).alias("depth"), F.col("o_orderkey").alias("disc_seq"),
    ).withColumn("url_hash", U.url_hash("canon_url")).withColumn("host", U.host_of("canon_url"))
    df = salted_topk(fr, "host", [F.col("depth"), F.col("disc_seq")], k=3, n_salt=8)
    p = _plan(spark, df, "extended")
    # phase 1 partitions by (host, salt-expression), phase 2 by host only
    assert "pmod" in p and p.count("Window") >= 2


def test_robots_expr_equals_python_predicate(spark):
    """The JVM higher-order-function robots predicate must agree with the
    pinned python longest-prefix implementation (which the oracle simulator
    shares) on randomized rule sets, including null/empty rules and
    allow-wins-ties cases."""
    import random

    from croawl_spark.functions.robots import allowed
    from croawl_spark.plans.cycle import _robots_allowed_expr

    rnd = random.Random(7)
    prefixes = ["/", "/a", "/a/b", "/ab", "/b", "/b/c", "/abc", "/a/b/c"]
    rows = []
    for i in range(300):
        rules = [
            (rnd.random() < 0.5, rnd.choice(prefixes))
            for _ in range(rnd.randrange(0, 5))
        ]
        path = rnd.choice(prefixes) + rnd.choice(["", "/x", "c", "/deep/deeper"])
        rows.append((i, [{"allow": a, "path_prefix": p} for a, p in rules], path))
    rows.append((300, None, "/a"))  # unknown host -> null rules -> allow
    rows.append((301, [], "/a"))    # empty rules -> allow
    # explicit allow-wins-tie: equal-length allow + disallow on the match
    rows.append((302, [{"allow": True, "path_prefix": "/a"},
                       {"allow": False, "path_prefix": "/a"}], "/a/x"))
    df = spark.createDataFrame(
        rows,
        "i long, robots_rules array<struct<allow:boolean,path_prefix:string>>, "
        "path string",
    )
    got = {
        r["i"]: r["ok"]
        for r in df.select(
            "i",
            _robots_allowed_expr(F.col("robots_rules"), F.col("path")).alias("ok"),
        ).collect()
    }
    for i, rules, path in rows:
        want = (
            True
            if rules is None
            else allowed([(r["allow"], r["path_prefix"]) for r in rules], path)
        )
        assert got[i] == want, (i, rules, path)
    assert got[302] is True


def test_corpus_filter_ops_plan_shapes(spark):
    """Round-4 corpus operators keep their intended physical shapes:
    contamination's benchmark side is a broadcast semi-join and nothing
    crosses into Python; doc_perplexity's only nested-loop is the
    deliberate 1-row broadcast stats cross join; pii_scrub is a pure map
    (ZERO exchanges); rep_filter aggregates with partial phases and no
    cartesian anywhere."""
    from croawl_spark.plans.verify_queries import QUERIES

    def ep(df):
        return df._jdf.queryExecution().executedPlan().toString()

    p = ep(QUERIES["contamination"](spark, SF))
    assert "LeftSemi, BuildRight" in p  # benchmark grams broadcast
    assert "CartesianProduct" not in p and "PythonEval" not in p

    p = ep(QUERIES["doc_perplexity"](spark, SF))
    assert p.count("BroadcastNestedLoopJoin") == 1  # the 1-row stats cross
    assert "CartesianProduct" not in p

    p = ep(QUERIES["pii_scrub"](spark, SF))
    assert "Exchange" not in p and "PythonEval" not in p

    p = ep(QUERIES["rep_filter"](spark, SF))
    assert "partial" in p and "CartesianProduct" not in p


def test_bucketed_index_join_never_shuffles_the_index(spark, tmp_path):
    """Pins the production claim made by the streaming near-dup ingest
    and the shingle index (streaming/jobs.py ST7, operators/dedup.py
    build_shingle_index): a persisted index stored BUCKETED on its join
    key is never reshuffled at probe time —
      * small probe: AQE broadcasts the probe; the index scans in place
        with ZERO exchanges anywhere;
      * large probe (broadcast disabled): sort-merge join whose ONLY
        exchange is on the probe side; the index FileScan reports
        Bucketed: true.
    (The parquet+manifest TableIO emulation gives directory pruning; a
    real warehouse adds this bucketed layout — Iceberg bucket(N, key).)
    """
    from pyspark.sql import functions as F

    idx = spark.range(20000).select(
        F.col("id").alias("doc_id"),
        F.pmod(F.col("id"), F.lit(7)).alias("band"),
        F.xxhash64("id").alias("key"),
    )
    tbl = "bucketed_sig_idx_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        idx.write.bucketBy(8, "band", "key").sortBy("band", "key")
        .option("path", str(tmp_path / "idx"))
        .mode("overwrite").saveAsTable(tbl)
    )
    try:
        t = spark.table(tbl)
        small = spark.range(50).select(
            (F.col("id") + 90000).alias("nid"),
            F.pmod(F.col("id"), F.lit(7)).alias("band"),
            F.xxhash64(F.col("id") % 200).alias("key"),
        )
        j1 = small.join(t, ["band", "key"])
        j1.count()
        p1 = j1._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in p1
        assert "Exchange hashpartitioning" not in p1  # index never moved
        big = spark.range(5000).select(
            (F.col("id") + 90000).alias("nid"),
            F.pmod(F.col("id"), F.lit(7)).alias("band"),
            F.xxhash64(F.col("id") % 200).alias("key"),
        )
        j2 = big.join(
            t.hint("merge"), ["band", "key"]
        )
        j2.count()
        p2 = j2._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in p2
        # exactly one shuffle, and it is NOT above the bucketed scan:
        # the index-side subtree (FileScan..sig_idx) has no Exchange parent
        assert p2.count("Exchange hashpartitioning") == 1
        probe_side = p2[: p2.index("FileScan")]
        assert "Exchange hashpartitioning" in probe_side  # probe side only
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def _lambda_bodies(plan: str) -> list[str]:
    """The text inside each ``lambdafunction(...)`` of a plan string."""
    bodies, i = [], plan.find("lambdafunction(")
    while i != -1:
        j = k = i + len("lambdafunction(")
        depth = 1
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[k], 0)
            k += 1
        bodies.append(plan[j : k - 1])
        i = plan.find("lambdafunction(", i + 1)
    return bodies


def test_shingle_lambdas_never_split(spark):
    """No token-shingle kernel splits text inside a per-position lambda
    of its optimized plan: a ``split`` there re-splits the document once
    per position, O(tokens²) per doc. The optimizer can put one there
    that the source does not (a predicate over a projected column is
    pushed below the projection and the alias substituted back), so this
    reads the plan, not the source."""
    from croawl_spark.operators.corpus import _distinct_shingle_rows, repetition_filter
    from croawl_spark.operators.dedup import _shingle_occurrences
    from croawl_spark.operators.minhash import minhash_signature, shingles

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, None), (3, "")], "id long, text string"
    )
    kernels = {
        "minhash.shingles": shingles(df, "text"),
        "minhash.minhash_signature": minhash_signature(df, "id", "text"),
        "corpus.repetition_filter": repetition_filter(df, "id", "text"),
    }
    for h in (False, True):
        kernels[f"dedup._shingle_occurrences(hash={h})"] = _shingle_occurrences(
            df, "id", "text", 3, h
        )
        kernels[f"corpus._distinct_shingle_rows(hash={h})"] = _distinct_shingle_rows(
            df, "id", "text", 3, h
        )
    for name, k in kernels.items():
        bodies = _lambda_bodies(k._jdf.queryExecution().optimizedPlan().toString())
        assert bodies, name
        assert not [b for b in bodies if "split(" in b], name
