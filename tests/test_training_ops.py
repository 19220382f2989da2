"""Semantic regression tests for the training-data operators: these must
actually FIND near-duplicates / neighbors, not merely run."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from croawl_spark.functions.text import hamming64, rolling_fingerprint, simhash64

SF = "/root/testdata/sf0.01"


def test_minhash_finds_planted_duplicate(spark):
    """Planted exact copies are found under the default and a non-default
    (n_perm, n_bands) geometry; an unreachable threshold gives no pair;
    every pair is oriented id_a < id_b, also when ids repeat."""
    from croawl_spark.operators.minhash import minhash_dedup_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet").filter(F.col("doc_id") < 50)
    dup = d.filter(F.col("doc_id") == 3).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    pairs = minhash_dedup_pairs(
        d.unionByName(dup), "doc_id", "text", threshold=0.9
    ).collect()
    assert any(r["id_a"] == 3 and r["id_b"] == 100003 for r in pairs)
    # exact dup estimates sim 1.0
    assert all(r["est_sim"] <= 1.0 for r in pairs)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    planted = {(i, i + 70000) for i in range(6)}
    d = docs.unionByName(
        docs.filter(F.col("doc_id") < 6).select(
            (F.col("doc_id") + 70000).alias("doc_id"), "text"
        )
    )
    dup_ids = docs.unionByName(docs.filter(F.col("doc_id") < 3))
    for data, kw, want_planted in (
        (d, dict(threshold=0.5), True),
        (d, dict(threshold=0.7, n_perm=8, n_bands=2), True),
        (d, dict(threshold=1.01), False),
        (dup_ids, dict(threshold=0.5), False),
    ):
        got = minhash_dedup_pairs(data, "doc_id", "text", **kw).collect()
        assert all(r["id_a"] < r["id_b"] for r in got), kw
        if want_planted:
            assert planted <= {(r["id_a"], r["id_b"]) for r in got}, kw
        if kw["threshold"] > 1.0:
            assert got == [], kw


def test_minhash_pairs_driver_local_equals_distributed(spark):
    """The distributed band self-join emits exactly the rows of a
    driver-local LSH over the collected signatures: pairs sharing a band
    slice (slice equality == band-key equality), est_sim as the float64
    fraction of equal components, kept at ``>= threshold``. Covers planted
    exact duplicates, a non-default (n_perm, n_bands) geometry and an
    empty-pair threshold."""
    from collections import defaultdict
    from itertools import combinations

    from croawl_spark.operators.minhash import minhash_dedup_pairs, minhash_signature

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    d = docs.unionByName(
        docs.filter(F.col("doc_id") < 6).select(
            (F.col("doc_id") + 70000).alias("doc_id"), "text"
        )
    )

    for kw in (
        dict(threshold=0.5),
        dict(threshold=0.7, n_perm=8, n_bands=2),
        dict(threshold=1.01),  # no pair can pass: empty output both ways
    ):
        n_perm, n_bands = kw.get("n_perm", 16), kw.get("n_bands", 4)
        rows = n_perm // n_bands
        sigs = {
            r["doc_id"]: r["sig"]
            for r in minhash_signature(d, "doc_id", "text", n_perm).collect()
        }
        cand = set()
        for b in range(n_bands):
            buckets = defaultdict(list)
            for i, s in sigs.items():
                buckets[tuple(s[b * rows : (b + 1) * rows])].append(i)
            for ids in buckets.values():
                cand.update(combinations(sorted(ids), 2))
        want = []
        for a, b in cand:
            est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / float(n_perm)
            if est >= kw["threshold"]:
                want.append((a, b, est))
        got = sorted(
            map(tuple, minhash_dedup_pairs(d, "doc_id", "text", **kw).collect())
        )
        assert got == sorted(want), kw
        if kw["threshold"] <= 0.5:
            planted = {(i, i + 70000) for i in range(6)}
            assert planted <= {(a, b) for a, b, _ in got}


def test_minhash_signature_equals_explode_reference(spark):
    """minhash_signature equals the explode + groupBy(id).min(xxhash64)
    form with split inline in the shingle lambda, value for value and row
    for row, at n_perm 16 and 8. NULL, empty, blank, 1- and 2-token and
    2,000-token texts are included; NULL text keeps its row and signs
    like ""."""
    from croawl_spark.operators.minhash import minhash_signature

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    long_doc = " ".join(f"W{i % 700}" for i in range(2000))
    crafted = spark.createDataFrame(
        [(90000, None), (90001, ""), (90002, " "), (90003, "one"),
         (90004, "Two words"), (90005, long_doc)],
        "doc_id long, text string",
    )
    d = docs.unionByName(crafted)

    toks = F.split(F.lower("text"), " ")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1)))
    ex = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 3)))
            )
        ).alias("sh"),
    )
    for n_perm in (16, 8):
        ref = ex.groupBy("doc_id").agg(
            *[F.min(F.xxhash64("sh", F.lit(p))).alias(f"h{p}") for p in range(n_perm)]
        )
        want = {r[0]: list(r[1:]) for r in ref.collect()}
        got_rows = minhash_signature(d, "doc_id", "text", n_perm).collect()
        got = {r["doc_id"]: r["sig"] for r in got_rows}
        assert len(got_rows) == len(want) == d.count(), n_perm
        assert got == want, n_perm
        assert got[90000] == got[90001], n_perm


def test_exact_dedup_two_level_equals_text_grouping(spark):
    """The two-level (hash,len)->text dedup must be byte-identical to plain
    GROUP BY text — including under planted corpus duplicates."""
    from croawl_spark.operators.dedup import exact_dedup

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 50000).alias("doc_id"), "text"
    )
    # NULL content must survive: 2 NULL rows share a (hash, len) group where
    # length(NULL) is NULL — a non-null-safe level-2 join would drop both
    nulls = spark.createDataFrame(
        [(90001, None), (90002, None)], "doc_id long, text string"
    )
    corpus = d.unionByName(dups).unionByName(nulls)
    got = sorted(
        (r["keep_id"], r["dup_cnt"]) for r in exact_dedup(corpus, "text", "doc_id").collect()
    )
    want = sorted(
        (r["keep_id"], r["dup_cnt"])
        for r in corpus.groupBy("text")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt"))
        .collect()
    )
    assert got == want


def test_exact_dedup_survives_hash_collisions(spark):
    """Inject a degenerate hash (every row collides) — the within-group
    text confirmation must still keep distinct texts separate."""
    from croawl_spark.operators.dedup import exact_dedup

    d = spark.createDataFrame(
        [(1, "aaaa"), (2, "bbbb"), (3, "aaaa"), (4, "cccc")],
        "doc_id long, text string",
    )
    got = sorted(
        (r["keep_id"], r["dup_cnt"])
        for r in exact_dedup(d, "text", "doc_id", hash_expr=F.lit(0)).collect()
    )
    assert got == [(1, 2), (2, 1), (4, 1)]


def test_exact_dedup_shuffles_hash_not_text(spark):
    """Level-1 plan shape: the full-corpus exchange keys on (_h, _len), the
    dup-key set is broadcast, and no full-table exchange carries _txt.
    Dups are planted — a dup-free corpus legitimately skips level 2."""
    from croawl_spark.operators.dedup import exact_dedup

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 50000).alias("doc_id"), "text"
        )
    )
    plan = exact_dedup(corpus, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(_h" in plan  # narrow level-1 shuffle key
    assert "BroadcastExchange" in plan or "broadcast" in plan.lower()


def test_exact_dedup_skips_level2_when_dup_free(spark):
    """A corpus with zero duplicate candidates is answered by the level-1
    aggregate alone: no join (hence no second corpus pass) in the plan."""
    from croawl_spark.operators.dedup import exact_dedup

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    out = exact_dedup(d, "text", "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    n = d.count()
    rows = out.collect()
    assert len(rows) == n and all(r["dup_cnt"] == 1 for r in rows)


def test_exact_dedup_broadcast_gate(spark):
    """Past the dup-key threshold the forced broadcast is dropped (real
    corpora run ~30% duplication — an O(corpus) broadcast would OOM);
    results must be identical either way."""
    from croawl_spark.operators.dedup import exact_dedup

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 50000).alias("doc_id"), "text"
        )
    )
    hinted = exact_dedup(corpus, "text", "doc_id")
    gated = exact_dedup(corpus, "text", "doc_id", broadcast_max_keys=0)
    assert "ResolvedHint" not in gated._jdf.queryExecution().analyzed().toString()
    a = sorted((r["keep_id"], r["dup_cnt"]) for r in hinted.collect())
    b = sorted((r["keep_id"], r["dup_cnt"]) for r in gated.collect())
    assert a == b


def test_incremental_dedup_matches_self_dedup(spark):
    """Batch-2 vs persisted batch-1 index must flag exactly the rows that a
    whole-corpus self-dedup would merge into an old doc — without touching
    batch-1 text at probe time (index is (hash, len, keep_id) only)."""
    import tempfile

    from croawl_spark.operators.dedup import build_exact_index, dedup_against_index
    from croawl_spark.sources.tableio import TableIO

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    old = d.filter(F.col("doc_id") < 300)
    new = d.filter(F.col("doc_id") >= 300).unionByName(
        d.filter(F.col("doc_id") < 40).select(
            (F.col("doc_id") + 9000).alias("doc_id"), "text"
        )
    )
    with tempfile.TemporaryDirectory() as tmp:
        io = TableIO(spark, tmp)
        io.write_snapshot(build_exact_index(old, "text", "doc_id"), "exact_index", 0)
        io.commit_cycle(0, ["exact_index"])
        idx = io.read_snapshot("exact_index")  # persisted, batch-1 not recomputed
        out = dedup_against_index(new, idx, old, "text", "doc_id").collect()
    dup_of = {r["doc_id"]: r["dup_of"] for r in out}
    assert len(dup_of) == new.count()
    for i in range(40):  # planted copies point at their originals
        assert dup_of[9000 + i] == i
    assert all(v is None for k, v in dup_of.items() if k < 9000)  # no natural dups


def test_mark_content_dups_across_batches(spark):
    """Content-seen test: within-batch first-wins under fetch_seq, prior
    batches via the persisted log, delta holds only newly-seen hashes."""
    from croawl_spark.operators.dedup import mark_content_dups

    b1 = spark.createDataFrame(
        [(1, 10, 111), (2, 11, 222), (3, 12, 111)],
        "url_hash long, fetch_seq long, content_hash long",
    )
    flagged1, delta1 = mark_content_dups(b1, None)
    f1 = {r["fetch_seq"]: r["is_content_dup"] for r in flagged1.collect()}
    assert f1 == {10: False, 11: False, 12: True}  # seq 12 repeats 111
    d1 = {(r["content_hash"], r["first_fetch_seq"]) for r in delta1.collect()}
    assert d1 == {(111, 10), (222, 11)}

    b2 = spark.createDataFrame(
        [(4, 20, 222), (5, 21, 333), (6, 22, 333)],
        "url_hash long, fetch_seq long, content_hash long",
    )
    flagged2, delta2 = mark_content_dups(b2, delta1)
    f2 = {r["fetch_seq"]: r["is_content_dup"] for r in flagged2.collect()}
    assert f2 == {20: True, 21: False, 22: True}  # 222 seen in batch 1
    assert {r["content_hash"] for r in delta2.collect()} == {333}


def test_incremental_minhash_matches_self_dedup(spark):
    """Batch-2 probed against batch-1's PERSISTED signature index (batch-1
    text never re-shingled) must equal the whole-corpus self-dedup
    restricted to pairs that involve a new doc."""
    import tempfile

    from croawl_spark.operators.minhash import (
        incremental_minhash_pairs,
        minhash_dedup_pairs,
        minhash_signature,
    )
    from croawl_spark.sources.tableio import TableIO

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    old = d.filter(F.col("doc_id") < 200)
    new = d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 260)).unionByName(
        d.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 300000).alias("doc_id"), "text"
        )
    )
    with tempfile.TemporaryDirectory() as tmp:
        io = TableIO(spark, tmp)
        io.write_snapshot(minhash_signature(old, "doc_id", "text"), "minhash_sig", 0)
        io.commit_cycle(0, ["minhash_sig"])
        idx = io.read_snapshot("minhash_sig")
        inc = {
            (r["id_a"], r["id_b"], r["est_sim"])
            for r in incremental_minhash_pairs(
                new, idx, "doc_id", "text", threshold=0.5
            ).collect()
        }
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    full = {
        (r["id_a"], r["id_b"], r["est_sim"])
        for r in minhash_dedup_pairs(
            old.unionByName(new), "doc_id", "text", threshold=0.5
        ).collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }
    assert inc == full
    assert any(a < 20 and b >= 300000 for a, b, _ in inc)  # planted copies found


def test_cluster_resolution_planted_chain(spark):
    """Pairs (1,2),(2,3),(3,4) + (10,11) + isolated 20 must resolve to
    components {1,2,3,4}->1, {10,11}->10, {20}->20 — transitive closure,
    not just clique collapse."""
    from croawl_spark.operators.cluster import resolve_clusters

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 4, 10, 11, 20)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: (r["component"], r["keep"])
        for r in resolve_clusters(docs, pairs, "doc_id").collect()
    }
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False),
        10: (10, True), 11: (10, False), 20: (20, True),
    }


def test_minhash_to_survivors_end_to_end(spark):
    """Full dedup pipeline: planted exact dups -> LSH pairs -> clusters ->
    keep-one-per-cluster drops exactly the planted copies."""
    from croawl_spark.operators.cluster import keep_one_per_cluster
    from croawl_spark.operators.minhash import minhash_dedup_pairs

    d = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("doc_id") < 30)
        .select("doc_id", "text")
    )
    dup1 = d.filter(F.col("doc_id") == 3).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    dup2 = d.filter(F.col("doc_id") == 3).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    corpus = d.unionByName(dup1).unionByName(dup2)
    pairs = minhash_dedup_pairs(corpus, "doc_id", "text", threshold=0.95)
    survivors = {r["doc_id"] for r in keep_one_per_cluster(corpus, pairs, "doc_id").collect()}
    assert 3 in survivors and 100003 not in survivors and 200003 not in survivors
    assert len(survivors) == 30  # nothing else dropped


def test_round3_ops_shuffle_partition_invariance(spark):
    """Round-3 keys under radically different shuffle parallelism: exact
    ops must be identical; bm25's rounded float scores must also be stable
    (the 4-decimal margin must absorb summation-order ulp drift)."""
    from croawl_spark.plans.verify_queries import QUERIES

    keys = ["bm25", "pack_sequences", "sample_split", "join_range"]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for np_ in ("2", "27"):
            spark.conf.set("spark.sql.shuffle.partitions", np_)
            for k in keys:
                rows = sorted(tuple(r) for r in QUERIES[k](spark, SF).collect())
                results.setdefault(k, []).append(rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for k, (a, b) in results.items():
        assert a == b, k


def test_round2_ops_shuffle_partition_invariance(spark):
    """North-rule determinism for the new operators: radically different
    shuffle parallelism must not change any result row (components,
    incremental dedup, composite pipeline, simhash pairs)."""
    from croawl_spark.plans.verify_queries import QUERIES

    keys = ["dedup_cluster", "dedup_incremental", "corpus_clean", "dedup_simhash_pairs"]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for np_ in ("2", "27"):
            spark.conf.set("spark.sql.shuffle.partitions", np_)
            for k in keys:
                rows = sorted(tuple(r) for r in QUERIES[k](spark, SF).collect())
                results.setdefault(k, []).append(rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for k, (a, b) in results.items():
        assert a == b, k


def test_resolve_clusters_with_id_named_id(spark):
    """Regression: caller's id column literally named 'id' must survive the
    internal join (a bare drop('id') would remove both)."""
    from croawl_spark.operators.cluster import resolve_clusters

    docs = spark.createDataFrame([(1, "a"), (2, "a"), (9, "b")], "id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = {r["id"]: (r["component"], r["keep"])
           for r in resolve_clusters(docs, pairs, "id").collect()}
    assert got == {1: (1, True), 2: (1, False), 9: (9, True)}


def test_connected_components_random_graphs_vs_union_find(spark):
    """Seeded random graphs (cycles, self-loops, multi-edges, isolated
    vertices) vs a pure-python union-find oracle."""
    import random

    from croawl_spark.operators.cluster import connected_components

    for seed, n, m in ((1, 60, 40), (2, 80, 120), (3, 30, 300)):
        rnd = random.Random(seed)
        edges = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(m)]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        want = {}
        for v in range(n):
            root = find(v)
            want.setdefault(root, []).append(v)
        expect = {v: min(members) for members in want.values() for v in members}

        verts = spark.range(n).select(F.col("id"))
        e_df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["id"]: r["component"]
            for r in connected_components(verts, e_df).collect()
        }
        assert got == expect, f"seed {seed}"


def test_ngram_contamination_planted_and_hash_equivalence(spark):
    """Decontamination screen: a candidate carrying a benchmark doc's text
    verbatim is flagged with the right distinct-shingle count; clean and
    too-short docs report 0; and the hashed-shingle scale path equals the
    exact string form."""
    from croawl_spark.operators.corpus import ngram_contamination

    bench_text = "a b c d e f g h i j k l"  # 12 tokens -> 5 8-grams
    rows_b = [(1000, bench_text)]
    rows_c = [
        (1, bench_text),                      # verbatim copy: all 5 shared
        (2, "x " + bench_text),               # shifted: the 5 originals still present
        (3, "totally unrelated words here now with many more tokens present"),
        (4, "a b c"),                         # < 8 tokens: 0 by construction
    ]
    bench = spark.createDataFrame(rows_b, "doc_id long, text string")
    cand = spark.createDataFrame(rows_c, "doc_id long, text string")
    for hashed in (True, False):
        got = {
            r["doc_id"]: (r["n_shared"], r["contaminated"])
            for r in ngram_contamination(
                cand, bench, "doc_id", "text", n=8, hash_shingles=hashed
            ).collect()
        }
        assert got == {
            1: (5, True),
            2: (5, True),
            3: (0, False),
            4: (0, False),
        }, f"hash_shingles={hashed}"


def test_unigram_nll_orders_rare_token_docs_high(spark):
    """Unigram NLL: a doc of corpus-unique tokens must score strictly
    higher than a doc repeating the corpus's most common token; every doc
    gets exactly one row."""
    from croawl_spark.operators.corpus import unigram_nll

    rows = [
        (1, "the the the the"),
        (2, "the the the the"),
        (3, "zyx wvu tsr qpo"),  # singletons
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["nll"] for r in unigram_nll(d, "doc_id", "text").collect()}
    assert set(got) == {1, 2, 3}
    assert got[1] == got[2] < got[3]


def test_repetition_filter_flags_repeated_docs(spark):
    """Gopher-style screens: a token-repetition doc and a bigram-loop doc
    are dropped, a diverse doc is kept, and the reported fractions are
    exact for constructed inputs."""
    from croawl_spark.operators.corpus import repetition_filter

    rows = [
        (1, "spam spam spam spam spam spam spam spam spam spam"),  # 1 token
        (2, "buy now buy now buy now buy now buy now buy now"),    # bigram loop
        (3, "each word here appears exactly once across this document text"),
        (4, "solo"),                                               # n=1 edge
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_filter(d, "doc_id", "text").collect()}
    assert got[1]["distinct_frac"] == 0.1 and got[1]["top_token_frac"] == 1.0
    assert not got[1]["keep"]
    assert got[2]["top_bigram_frac"] > 0.9 and not got[2]["keep"]
    assert got[3]["distinct_frac"] == 1.0 and got[3]["keep"]
    assert got[4]["n_tokens"] == 1 and got[4]["top_bigram_frac"] == 0.0


def test_scrub_pii_redacts_and_counts(spark):
    """PII scrub: e-mails and 6+-digit runs redacted everywhere they
    appear, counts audit-accurate, clean text untouched."""
    from croawl_spark.operators.corpus import scrub_pii

    rows = [
        (1, "write to alice.b@example.org or bob9@mail.co today"),
        (2, "call 5551234567 or 123456 but not 12345"),
        (3, "no personal data in this one"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in scrub_pii(d, "doc_id", "text").collect()}
    assert got[1]["clean_text"] == "write to <EMAIL> or <EMAIL> today"
    assert got[1]["n_emails"] == 2 and got[1]["n_longnums"] == 0
    assert got[2]["clean_text"] == "call <NUM> or <NUM> but not 12345"
    assert got[2]["n_longnums"] == 2
    assert got[3]["clean_text"] == rows[2][1]
    assert got[3]["n_emails"] == 0 and got[3]["n_longnums"] == 0


def test_connected_components_star_equals_hashmin(spark):
    """Large-star/small-star (Kiveris et al.) must produce exactly the
    hash-min labeling on seeded random graphs (self-loops, multi-edges,
    isolated vertices) AND on its motivating adversarial shape — a long
    chain, where hash-min without pointer jumping would need
    diameter-many rounds."""
    import random

    from croawl_spark.operators.cluster import (
        connected_components,
        connected_components_star,
    )

    for seed, n, m in ((1, 60, 40), (2, 80, 120), (3, 30, 300)):
        rnd = random.Random(seed)
        edges = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(m)]
        verts = spark.range(n).select(F.col("id"))
        e_df = spark.createDataFrame(edges, "src long, dst long")
        want = {
            r["id"]: r["component"]
            for r in connected_components(verts, e_df).collect()
        }
        got = {
            r["id"]: r["component"]
            for r in connected_components_star(verts, e_df).collect()
        }
        assert got == want, f"seed {seed}"

    # adversarial chain: 0-1-2-...-255 plus an isolated tail vertex
    n = 257
    verts = spark.range(n).select(F.col("id"))
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 2)], "src long, dst long"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components_star(verts, chain, max_iter=20).collect()
    }
    assert got == {i: 0 for i in range(n - 1)} | {n - 1: n - 1}


def test_incremental_minhash_orientation_new_below_old(spark):
    """Pair orientation: when NEW ids sort BELOW old ids, the incremental
    probe must still equal the whole-corpus self-dedup (pairs normalized to
    id_a < id_b) — the precondition is disjoint id sets, not old < new."""
    import tempfile

    from croawl_spark.operators.minhash import (
        incremental_minhash_pairs,
        minhash_dedup_pairs,
        minhash_signature,
    )
    from croawl_spark.sources.tableio import TableIO

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    old = d.filter(F.col("doc_id") < 200).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    new = d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 240)).unionByName(
        d.filter(F.col("doc_id") < 20)  # copies of old texts, SMALL ids
    )
    with tempfile.TemporaryDirectory() as tmp:
        io = TableIO(spark, tmp)
        io.write_snapshot(minhash_signature(old, "doc_id", "text"), "minhash_sig", 0)
        io.commit_cycle(0, ["minhash_sig"])
        idx = io.read_snapshot("minhash_sig")
        inc = {
            (r["id_a"], r["id_b"], r["est_sim"])
            for r in incremental_minhash_pairs(
                new, idx, "doc_id", "text", threshold=0.5
            ).collect()
        }
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    full = {
        (r["id_a"], r["id_b"], r["est_sim"])
        for r in minhash_dedup_pairs(
            old.unionByName(new), "doc_id", "text", threshold=0.5
        ).collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }
    assert inc == full
    assert all(a < b for a, b, _ in inc)
    assert any(a < 20 and b >= 500000 for a, b, _ in inc)  # copies found


def test_resolve_clusters_ignores_phantom_pair_ids(spark):
    """A pair endpoint absent from df must not become a cluster label —
    otherwise keep=false for every real row silently deletes the cluster."""
    from croawl_spark.operators.cluster import keep_one_per_cluster, resolve_clusters

    docs = spark.createDataFrame(
        [(5, "a"), (6, "a"), (9, "b")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 5), (5, 6)], "id_a long, id_b long"  # 0 is a phantom id
    )
    got = {
        r["doc_id"]: (r["component"], r["keep"])
        for r in resolve_clusters(docs, pairs, "doc_id").collect()
    }
    assert got == {5: (5, True), 6: (5, False), 9: (9, True)}
    survivors = {
        r["doc_id"] for r in keep_one_per_cluster(docs, pairs, "doc_id").collect()
    }
    assert survivors == {5, 9}


def test_connected_components_huge_ids_no_sum_overflow(spark):
    """Convergence checksum with ids near 2^62: the plain long SUM would
    wrap (8 × 2^62 > 2^63), the decimal(38,0) sum must not — components
    still exact."""
    from croawl_spark.operators.cluster import connected_components

    base = 1 << 62
    ids = [base + i for i in range(8)]
    verts = spark.createDataFrame([(i,) for i in ids], "id long")
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(3)]  # chain over first 4
        + [(ids[6], ids[7])],
        "src long, dst long",
    )
    got = {r["id"]: r["component"] for r in connected_components(verts, edges).collect()}
    want = {ids[i]: ids[0] for i in range(4)}
    want.update({ids[4]: ids[4], ids[5]: ids[5], ids[6]: ids[6], ids[7]: ids[6]})
    assert got == want


def test_incremental_embed_pairs_matches_self_dedup(spark):
    """New-batch embeddings probed against batch-1's PERSISTED bucket index
    (batch-1 vectors never re-bucketed) must equal the whole-corpus
    embedding self-dedup restricted to pairs involving a new vector —
    including when new ids sort below old ids (orientation normalized)."""
    import tempfile

    from croawl_spark.operators.ann import (
        build_embed_index,
        embed_dedup_pairs,
        incremental_embed_pairs,
    )
    from croawl_spark.sources.tableio import TableIO

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    old = e.filter(F.col("vec_id") >= 40).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    # new batch: small ids + exact copies of two old vectors (planted dups)
    new = (
        e.filter(F.col("vec_id") < 40).select("vec_id", "embedding")
        .unionByName(
            e.filter(F.col("vec_id").isin(45, 46)).select("vec_id", "embedding")
        )
        .dropDuplicates(["vec_id"])
    )
    with tempfile.TemporaryDirectory() as tmp:
        io = TableIO(spark, tmp)
        io.write_snapshot(build_embed_index(old), "embed_index", 0)
        io.commit_cycle(0, ["embed_index"])
        idx = io.read_snapshot("embed_index")
        inc = {
            (r["id_a"], r["id_b"])
            for r in incremental_embed_pairs(
                new, idx, old, threshold=0.95
            ).collect()
        }
    new_ids = {r["vec_id"] for r in new.select("vec_id").collect()}
    full = {
        (r["id_a"], r["id_b"])
        for r in embed_dedup_pairs(
            old.unionByName(new), threshold=0.95
        ).collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }
    assert inc == full
    assert all(a < b for a, b in inc)
    # planted exact copies (cosine 1.0 collides in EVERY table) found
    assert (45, 100045) in inc and (46, 100046) in inc


def test_range_join_equals_inequality_join_without_nlj(spark):
    """Bucketed range join == the naive inequality join, at several bin
    widths (including widths that force multi-bin explodes and widths
    larger than every interval), negatives included; and the plan contains
    NO nested-loop/cartesian join — the O(|L|x|R|) shape it exists to
    avoid."""
    import random

    from croawl_spark.operators.rangejoin import range_join

    rnd = random.Random(11)
    ivals = [(i, rnd.randrange(-500, 500)) for i in range(120)]
    ivals = [(i, lo, lo + rnd.randrange(0, 120)) for i, lo in ivals]
    pts = [(j, rnd.randrange(-600, 600)) for j in range(400)]
    want = sorted(
        (i, j) for i, lo, hi in ivals for j, p in pts if lo <= p <= hi
    )
    idf = spark.createDataFrame(ivals, "iid long, lo long, hi long")
    pdf = spark.createDataFrame(pts, "pid long, pt long")
    for width in (7, 64, 1000):
        out = range_join(idf, pdf, "iid", "lo", "hi", "pid", "pt", bin_width=width)
        got = sorted((r["iid"], r["pid"]) for r in out.collect())
        assert got == want, width
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_interval_overlap_join_equals_bruteforce_no_nlj_no_dups(spark):
    """interval ⋈ interval overlap == the naive inequality join at several
    bin widths (negatives, containment, touching endpoints included); the
    plan has no nested loop / cartesian; and the canonical-bin emission
    really produces each pair exactly once (no dedup shuffle needed)."""
    import random

    from croawl_spark.operators.rangejoin import interval_overlap_join

    rnd = random.Random(23)
    A = [(i, lo, lo + rnd.randrange(0, 150))
         for i, lo in ((i, rnd.randrange(-500, 500)) for i in range(120))]
    B = [(j, lo, lo + rnd.randrange(0, 90))
         for j, lo in ((j, rnd.randrange(-600, 600)) for j in range(200))]
    want = sorted(
        (a, b) for a, alo, ahi in A for b, blo, bhi in B
        if alo <= bhi and blo <= ahi
    )
    adf = spark.createDataFrame(A, "aid long, alo long, ahi long")
    bdf = spark.createDataFrame(B, "bid long, blo long, bhi long")
    for width in (7, 64, 1000):
        out = interval_overlap_join(
            adf, bdf, "aid", "alo", "ahi", "bid", "blo", "bhi", bin_width=width
        )
        rows = [(r["aid"], r["bid"]) for r in out.collect()]
        assert sorted(rows) == want, width
        assert len(rows) == len(set(rows)), f"duplicate pairs at width {width}"
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_chunk_documents_covers_and_clamps(spark):
    """Chunking: starts advance by stride, the tail chunk clamps at the
    doc end, short docs yield one chunk, and every token position is
    covered by at least one chunk."""
    from croawl_spark.operators.corpus import chunk_documents

    toks = [f"t{i}" for i in range(150)]
    rows = [(1, " ".join(toks)), (2, "a b c"), (3, " ".join(f"x{i}" for i in range(64)))]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(d, "doc_id", "text", window=64, stride=48)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(r.asDict())
    c1 = sorted(got[1], key=lambda r: r["chunk_id"])
    assert [r["start_tok"] for r in c1] == [1, 49, 97]
    assert [r["n_chunk_tokens"] for r in c1] == [64, 64, 54]  # tail clamped
    assert c1[0]["chunk_text"].split(" ")[:2] == ["t0", "t1"]
    assert c1[2]["chunk_text"].split(" ")[-1] == "t149"
    covered = set()
    for r in c1:
        covered.update(range(r["start_tok"], r["start_tok"] + r["n_chunk_tokens"]))
    assert covered == set(range(1, 151))  # every token position covered
    assert len(got[2]) == 1 and got[2][0]["n_chunk_tokens"] == 3
    assert len(got[3]) == 1 and got[3][0]["n_chunk_tokens"] == 64


def test_pagerank_matches_numpy_oracle(spark):
    """Spark PageRank (converging joins + dangling-mass redistribution)
    vs a dense numpy power-method oracle with identical semantics."""
    import random

    import numpy as np

    from croawl_spark.operators.pagerank import pagerank

    rnd = random.Random(5)
    n = 30
    edges = sorted({(rnd.randrange(n), rnd.randrange(n)) for _ in range(80)})
    edges = [(u, v) for u, v in edges if u != v]
    out = {}
    for u, v in edges:
        out.setdefault(u, set()).add(v)
    r = np.full(n, 1.0 / n)
    d = 0.85
    for _ in range(8):
        nr = np.zeros(n)
        flowed = 0.0
        for u, vs in out.items():
            flowed += r[u]
            for v in vs:
                nr[v] += r[u] / len(vs)
        dang = (1.0 - flowed) / n
        r = (1 - d) / n + d * (nr + dang)
    verts = spark.range(n).select(F.col("id"))
    e_df = spark.createDataFrame(edges, "src long, dst long")
    got = {row["id"]: row["rank"] for row in pagerank(verts, e_df, n_iter=8).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, i


def test_global_cumsum_matches_window_without_serial_exchange(spark):
    """Two-phase distributed cumsum == the single-partition window form,
    with NO SinglePartition exchange in the plan (the serial bottleneck it
    exists to avoid)."""
    from croawl_spark.operators.corpus import global_cumsum

    d = spark.range(1000).select(F.col("id"), (F.col("id") % 7 + 1).alias("v"))
    got = global_cumsum(d, ["id"], "v", "cum")
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = d.withColumn("cum", F.sum("v").over(w).cast("long"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_bm25_ranks_term_density(spark):
    """Higher query-term density -> higher score; unmatched docs absent."""
    from croawl_spark.operators.corpus import bm25_score

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark beats all"),
            (2, "spark is here today maybe"),
            (3, "nothing to see here folks"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_score(docs, "doc_id", "text", ["spark"]).collect()
    }
    assert set(got) == {1, 2}
    assert got[1] > got[2] > 0


def test_connected_components_long_chain_converges(spark):
    """A 20-hop chain (diameter 20) must still converge within max_iter and
    without plan blowup (localCheckpoint truncates lineage per round)."""
    from croawl_spark.operators.cluster import connected_components

    n = 21
    verts = spark.range(n).select(F.col("id"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    comps = connected_components(verts, edges)
    assert {r["component"] for r in comps.collect()} == {0}


def test_ann_lsh_recall_vs_bruteforce(spark):
    from croawl_spark.operators.ann import ann_lsh_topk, cosine_expr

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs, cands = e.filter(F.col("vec_id") < 5), e.filter(F.col("vec_id") >= 5)
    bf = (
        qs.alias("q").crossJoin(cands.alias("c"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("cand_id"),
            cosine_expr("q.embedding", "c.embedding").alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    truth = {
        (r["query_id"], r["cand_id"])
        for r in bf.withColumn("rk", F.row_number().over(w)).filter("rk<=5").collect()
    }
    got = {(r["query_id"], r["cand_id"]) for r in ann_lsh_topk(cands, qs, k=5).collect()}
    # deterministic hyperplanes => deterministic recall; 15/25 on this data.
    # uniform random vectors are LSH's worst case — bound loosely for safety.
    assert len(truth & got) >= 12, f"recall {len(truth & got)}/25"
    assert len(got) == 25


def test_simhash_properties():
    a = "the quick brown fox jumps over the lazy dog"
    b = "the quick brown fox jumps over the lazy cat"
    c = "completely different words entirely here now"
    assert simhash64(a) == simhash64(a)
    assert hamming64(simhash64(a), simhash64(a)) == 0
    assert hamming64(simhash64(a), simhash64(b)) < hamming64(simhash64(a), simhash64(c))
    assert simhash64(None) is None
    assert simhash64("") == 0


def test_simhash_pairs_equal_bruteforce(spark):
    """Banded-LSH simhash pairing must EQUAL the all-pairs hamming filter
    (pigeonhole: hamming<=3 over 4 bands cannot miss), including a planted
    near-identical doc."""
    from croawl_spark.functions.text import simhash_udf
    from croawl_spark.operators.minhash import simhash_dedup_pairs

    d = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("doc_id") < 80)
        .select("doc_id", "text")
    )
    near = d.filter(F.col("doc_id") == 7).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    corpus = d.unionByName(near)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_dedup_pairs(corpus, "doc_id", "text").collect()
    }
    sims = corpus.select("doc_id", simhash_udf(F.col("text")).alias("sh"))
    a, b = sims.alias("a"), sims.alias("b")
    bf = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert got == bf
    assert any(a_ == 7 and b_ == 100007 for a_, b_, _ in got)  # planted near-dup


def test_rolling_fingerprint_shift_tolerance():
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    shifted = "prefix " + base
    fa = set(rolling_fingerprint(base).split(","))
    fb = set(rolling_fingerprint(shifted).split(","))
    # winnowing keeps window minima: a 1-token shift preserves most of them
    assert len(fa & fb) >= len(fa) // 2
    assert rolling_fingerprint(base) == rolling_fingerprint(base)


def test_multimodal_decode_deterministic(spark):
    from croawl_spark.operators.multimodal import decode_features, synth_media_table

    d = spark.read.parquet(f"{SF}/documents.parquet").filter(F.col("doc_id") < 50)
    m = synth_media_table(d)
    a = sorted(tuple(r) for r in decode_features(m).collect())
    b = sorted(tuple(r) for r in decode_features(m).collect())
    assert a == b
    assert all(64 <= r[2] < 256 and r[4] > 0 for r in a)  # width, n_bytes sane


def test_resize_images_contract(spark):
    """Resize plumbing: deterministic, aspect-preserving, longest side
    capped, payload binary round-trips the Arrow boundary, never upscales."""
    from croawl_spark.operators.multimodal import (
        decode_features,
        resize_images,
        synth_media_table,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").filter(F.col("doc_id") < 40)
    media = synth_media_table(d)
    orig = {r["media_ref"]: (r["width"], r["height"]) for r in decode_features(media).collect()}
    a = sorted(tuple(r) for r in resize_images(media, max_dim=100).collect())
    b = sorted(tuple(r) for r in resize_images(media, max_dim=100).collect())
    assert a == b  # deterministic
    for ref, kind, payload, ctype, w, h in a:
        ow, oh = orig[ref]
        assert max(w, h) <= 100 and w >= 1 and h >= 1
        assert w <= ow and h <= oh  # never upscaled
        assert abs(w / h - ow / oh) < 0.1  # aspect preserved
        assert isinstance(payload, (bytes, bytearray)) and len(payload) >= 16


def test_sample_frames_fan_out(spark):
    """Frame sampling: 1 video row -> N frame rows through one Arrow
    crossing; frame count tracks the fake duration; deterministic."""
    from croawl_spark.operators.multimodal import sample_frames, synth_video_table

    d = spark.read.parquet(f"{SF}/documents.parquet").filter(F.col("doc_id") < 30)
    vids = synth_video_table(d)
    frames = sample_frames(vids, every_ms=1000)
    a = sorted(tuple(r) for r in frames.collect())
    assert a == sorted(tuple(r) for r in sample_frames(vids, every_ms=1000).collect())
    n_vids = vids.count()
    per_vid = {}
    for ref, idx, ts, payload in a:
        per_vid.setdefault(ref, []).append((idx, ts))
        assert ts == idx * 1000 and len(payload) >= 1
    assert len(per_vid) == n_vids
    assert any(len(v) > 1 for v in per_vid.values())  # real fan-out happens
    for v in per_vid.values():  # contiguous frame indices from 0
        assert sorted(i for i, _ in v) == list(range(len(v)))


def test_decode_real_is_explicit_stub():
    import pytest as _pytest

    from croawl_spark.operators.multimodal import decode_real

    with _pytest.raises(NotImplementedError):
        decode_real(b"\x89PNG")


def test_derive_n_planes_properties():
    """Geometry derivation: monotone non-decreasing in corpus size,
    clamped to [lo, hi], and the implied mean occupancy (n / 2^planes)
    stays within 2x of the target across the clamp-free range."""
    from croawl_spark.operators.ann import derive_n_planes

    prev = 0
    for exp in range(1, 40):
        n = 1 << exp
        p = derive_n_planes(n)
        assert 5 <= p <= 24
        assert p >= prev
        prev = p
        if 5 < p < 24:  # clamp-free: occupancy tracks the target
            assert 32 <= n / (1 << p) <= 128  # target 64, 2x slack
    assert derive_n_planes(0) == 5 and derive_n_planes(64) == 5
    assert derive_n_planes(1 << 60, lo=3, hi=10) == 10  # hi clamp honored


def test_lsh_bucket_cap_bounds_skewed_candidates(spark):
    """VERDICT r03 item #1 'done' criterion: on a skewed corpus (30%
    byte-identical copies of one vector + a distinct tail, tiny n_planes
    to force hot buckets) the capped LSH pipeline must (a) collapse the
    identical flood to ONE representative before bucketing, (b) re-split
    every rep-level bucket that exceeds the cap so candidate generation
    stays bounded, while (c) still emitting every identical pair and (d)
    never emitting a false positive."""
    import numpy as np

    from croawl_spark.operators.ann import (
        _apply_bucket_cap,
        _explode_tables,
        _oversized_buckets,
        _vector_groups,
        cosine_expr,
        embed_dedup_pairs,
        with_lsh_buckets,
    )

    rng = np.random.RandomState(7)
    dim, cap, planes, extra = 64, 8, 2, 12
    hot = rng.standard_normal(dim).tolist()
    rows = [(i, hot) for i in range(60)]  # 30% identical
    rows += [(i, rng.standard_normal(dim).tolist()) for i in range(60, 200)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = embed_dedup_pairs(
        corpus, threshold=0.99, n_planes=planes, bucket_cap=cap, n_extra=extra
    )
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # (c) the identical flood's pairs all survive (re-split can't separate
    # byte-identical vectors: their extra sign bits are identical too)
    want_identical = {(a, b) for a in range(60) for b in range(a + 1, 60)}
    assert want_identical <= got
    # (d) no false positives vs brute force at the same threshold
    a, b = corpus.alias("a"), corpus.alias("b")
    bf = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine_expr("a.embedding", "b.embedding").alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.99)
        .collect()
    }
    assert got <= bf

    # (a)+(b): re-derive the rep-level capped buckets and bound occupancy
    base = corpus.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    groups = _vector_groups(base)
    assert groups.filter("id = rep").count() == 141  # 60 copies -> 1 rep
    reps = base.join(groups.filter("id = rep").select("id"), "id", "left_semi")
    ex0 = _explode_tables(
        with_lsh_buckets(reps, "vec", dim, planes, 12, extra), "x"
    )
    raw_max = (
        ex0.groupBy("table", "bucket").count().agg(F.max("count")).collect()[0][0]
    )
    capped = _apply_bucket_cap(ex0, _oversized_buckets(ex0, cap), planes, extra)
    cap_max = (
        capped.groupBy("table", "bucket").count().agg(F.max("count")).collect()[0][0]
    )
    assert raw_max > 2 * cap  # the skew genuinely overflowed the cap
    assert cap_max < raw_max  # re-split engaged
    assert cap_max <= 2 * cap  # bounded (expected ~cap/2; 2x slack for
    #                            sign-bit variance, deterministic seed)


def test_embed_dedup_pairs_lsh(spark):
    """LSH embedding near-dup pairs: never a false positive (exact cosine
    confirm), planted exact dup always found (identical buckets in every
    table), and recall vs bounded brute force meets a deterministic floor."""
    from croawl_spark.operators.ann import cosine_expr, embed_dedup_pairs

    e = spark.read.parquet(f"{SF}/embeddings.parquet").filter(F.col("vec_id") < 150)
    dup = e.filter(F.col("vec_id") == 11).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = e.unionByName(dup)
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embed_dedup_pairs(corpus, threshold=0.5).collect()
    }
    a, b = corpus.alias("a"), corpus.alias("b")
    bf = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine_expr("a.embedding", "b.embedding").alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.5)
        .collect()
    }
    assert set(got) <= set(bf)  # exact confirm => no false positives
    assert (11, 100011) in got and abs(got[(11, 100011)] - 1.0) < 1e-9
    assert len(got) >= len(bf) // 2, f"recall {len(got)}/{len(bf)}"  # det. floor


def test_ann_ivf_recall_and_determinism(spark):
    from croawl_spark.operators.ann import ann_ivf_topk, cosine_expr

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs, cands = e.filter(F.col("vec_id") < 5), e.filter(F.col("vec_id") >= 5)
    bf = (
        qs.alias("q").crossJoin(cands.alias("c"))
        .select(F.col("q.vec_id").alias("query_id"), F.col("c.vec_id").alias("cand_id"),
                cosine_expr("q.embedding", "c.embedding").alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    truth = {(r["query_id"], r["cand_id"]) for r in
             bf.withColumn("rk", F.row_number().over(w)).filter("rk<=5").collect()}
    a = {(r["query_id"], r["cand_id"]) for r in ann_ivf_topk(cands, qs, k=5).collect()}
    b = {(r["query_id"], r["cand_id"]) for r in ann_ivf_topk(cands, qs, k=5).collect()}
    assert a == b  # deterministic centroids + assignment
    assert len(a & truth) >= 8, f"ivf recall {len(a & truth)}/25"


def test_ann_ivf_cell_join_ships_no_vectors(spark):
    """Plan shape (VERDICT r02 item #4): the cell join is narrow — no
    exchange in the plan carries an array column; embeddings re-attach to
    the deduped candidate pairs by id only."""
    import re

    from croawl_spark.operators.ann import ann_ivf_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs, cands = e.filter(F.col("vec_id") < 5), e.filter(F.col("vec_id") >= 5)
    plan = (
        ann_ivf_topk(cands, qs, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert "vec" not in keys and "embedding" not in keys, keys
    # the corpus side of the cell join is the narrow (cand_id, cell)
    # projection — the arrays enter the plan only at the id-keyed
    # re-attach joins after pair dedup
    assert re.search(r"Project \[cand_id#\d+L?, cell#\d+L?\]", plan), plan
    assert "cand_vec" in plan and "query_vec" in plan  # re-attach happened


def test_duplicate_passages_planted(spark):
    """Substring dedup (Lee et al. 2022 pattern): a 12-token passage
    planted inside two otherwise-distinct documents is flagged as one
    merged span in EACH doc (all copies, detection form); a doc without
    shared >=8-gram content gets no span."""
    from croawl_spark.operators.dedup import duplicate_passages

    passage = " ".join(f"dup{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + passage + " gamma delta epsilon zeta"),
            (2, "one two three four " + passage + " five six"),
            (3, "totally unrelated words seven eight nine ten eleven twelve"),
        ],
        "doc_id long, text string",
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_tokens"])
        for r in duplicate_passages(docs, "doc_id", "text", k=8).collect()
    }
    # doc 1: passage tokens at positions 3-14; shingle starts 3..7 -> span 3-14
    assert spans[1] == (3, 14, 12)
    # doc 2: passage at positions 5-16
    assert spans[2] == (5, 16, 12)
    assert 3 not in spans
    # hash and exact-string forms agree
    exact = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_tokens"])
        for r in duplicate_passages(
            docs, "doc_id", "text", k=8, hash_shingles=False
        ).collect()
    }
    assert exact == spans


def test_remove_duplicate_passages_keep_first(spark):
    """Removal form: the globally FIRST occurrence (min (doc_id, pos))
    survives; later copies are excised, the rest of the text is intact,
    and untouched docs round-trip unchanged."""
    from croawl_spark.operators.dedup import remove_duplicate_passages

    passage = " ".join(f"dup{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, passage + " tail one two three"),
            (2, "head words here " + passage + " more tail"),
            (3, "no duplicated content in this document at all"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
        for r in remove_duplicate_passages(docs, "doc_id", "text", k=8)
        .select("doc_id", "clean_text", "n_removed_tokens")
        .collect()
    }
    assert out[1] == (passage + " tail one two three", 0)  # first copy kept
    assert out[2] == ("head words here more tail", 10)     # later copy gone
    assert out[3] == ("no duplicated content in this document at all", 0)


def test_duplicate_passages_plan_no_nlj(spark):
    """Plan shape: the substring-dedup pipeline is equi-joins + hash
    aggregates + one per-doc window — never a nested-loop/cartesian join,
    and the shingle aggregate runs with map-side partial aggregation."""
    from croawl_spark.operators.dedup import duplicate_passages

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = duplicate_passages(docs, "doc_id", "text", k=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    # partial_count before the exchange = map-side combine on the 8-byte key
    assert "partial_count" in plan


def test_embed_dedup_and_lsh_topk_accept_n_extra_zero(spark):
    """ADVICE r04: with n_extra=0 (no extra sign bits) the occupancy-cap
    step must be skipped, not raise UNRESOLVED_COLUMN xbits — and exact
    duplicates are still found (they share every primary bucket)."""
    from croawl_spark.operators.ann import ann_lsh_topk, embed_dedup_pairs

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dup = e.filter(F.col("vec_id") == 1).select(
        (F.col("vec_id") + 9000).alias("vec_id"), "embedding"
    )
    vecs = e.unionByName(dup)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embed_dedup_pairs(vecs, threshold=0.999, n_extra=0).collect()
    }
    assert (1, 9001) in pairs
    qs = e.filter(F.col("vec_id") < 3)
    topk = ann_lsh_topk(vecs, qs, k=3, n_extra=0)
    got = {(r["query_id"], r["cand_id"]) for r in topk.collect()}
    assert (1, 9001) in got  # exact dup is always candidate + top ranked


def test_incremental_embed_index_geometry_validation(spark):
    """ADVICE r04: the persisted index carries its build geometry; a probe
    with mismatched n_planes/n_tables, or n_extra wider than the stored
    xbits, must raise instead of silently mis-splitting buckets."""
    import pytest as _pytest

    from croawl_spark.operators.ann import build_embed_index, incremental_embed_pairs

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = e.filter(F.col("vec_id") >= 10)
    new = e.filter(F.col("vec_id") < 10)
    idx = build_embed_index(old, n_planes=5, n_tables=12, n_extra=8)
    with _pytest.raises(ValueError, match="geometry mismatch"):
        incremental_embed_pairs(new, idx, old, n_planes=6, n_tables=12, n_extra=8)
    # ANY n_extra mismatch is fatal — the extra-bit hyperplanes for a
    # different count are not a prefix/superset, they are different planes
    with _pytest.raises(ValueError, match="!= index build n_extra"):
        incremental_embed_pairs(new, idx, old, n_planes=5, n_tables=12, n_extra=16)
    with _pytest.raises(ValueError, match="!= index build n_extra"):
        incremental_embed_pairs(new, idx, old, n_planes=5, n_tables=12, n_extra=4)
    # n_extra=0 disables capping entirely — always safe
    ok0 = incremental_embed_pairs(new, idx, old, n_planes=5, n_tables=12, n_extra=0)
    assert ok0.count() >= 0
    # matching geometry still works end-to-end
    ok = incremental_embed_pairs(new, idx, old, n_planes=5, n_tables=12, n_extra=8)
    assert ok.count() >= 0


def test_unigram_nll_heavy_hitter_split(spark):
    """VERDICT r04 item #5: a corpus where ONE token is ~50% of the stream
    must (a) score identically to the naive formula, and (b) route that
    token through a broadcast join — the executed plan carries a
    BroadcastHashJoin for the heavy path, so no partition owns the
    heavy-hitter's rows at the term-keyed exchange."""
    import math

    from croawl_spark.operators.corpus import unigram_nll

    docs = spark.createDataFrame(
        [
            (1, "the the the the the cat"),
            (2, "the the the the dog sat"),
            (3, "a rare specimen appears"),
        ],
        "doc_id long, text string",
    )
    out = unigram_nll(docs, "doc_id", "text", heavy_k=2)
    got = {r["doc_id"]: r["nll"] for r in out.collect()}
    # naive: 16 tokens total; tf(the)=9
    tf = {}
    texts = {1: "the the the the the cat", 2: "the the the the dog sat",
             3: "a rare specimen appears"}
    for t in texts.values():
        for w in t.split(" "):
            tf[w] = tf.get(w, 0) + 1
    tot = sum(tf.values())
    for d, t in texts.items():
        ws = t.split(" ")
        want = round(sum(-math.log(tf[w] / tot) for w in ws) / len(ws), 4)
        assert got[d] == want, (d, got[d], want)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_resample_sources_exact_mixture(spark):
    """Domain mixing: the output hits the target mixture EXACTLY (quotas
    from the limiting source, no upsampling), the limiting source keeps
    every row, selection is deterministic across re-runs, and unweighted
    sources are dropped."""
    from croawl_spark.operators.corpus import resample_sources

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 6, "web")        # 600 rows
        .when(F.col("id") % 10 < 9, "news")        # 300 rows
        .otherwise("junk")                          # 100 rows, unweighted
        .alias("src"),
    )
    out = resample_sources(docs, "doc_id", "src", {"web": 0.5, "news": 0.5})
    got = {r["src"]: r["cnt"] for r in out.groupBy("src").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    # T = min(600/0.5, 300/0.5) = 600 -> web 300, news 300 (kept whole)
    assert got == {"web": 300, "news": 300}
    # deterministic: identical id set on re-run
    ids1 = {r["doc_id"] for r in out.collect()}
    ids2 = {
        r["doc_id"]
        for r in resample_sources(
            docs, "doc_id", "src", {"web": 0.5, "news": 0.5}
        ).collect()
    }
    assert ids1 == ids2
    assert not any(i % 10 == 9 for i in ids1)  # junk dropped


def test_corpus_report_counts(spark):
    """Report card on a constructed corpus: exact vocab size, token
    volume, and duplicate rate per source."""
    from croawl_spark.operators.corpus import corpus_report

    docs = spark.createDataFrame(
        [
            (1, "a", "x y z"),
            (2, "a", "x y z"),          # exact dup of doc 1
            (3, "a", "x q"),
            (4, "b", "unique words only"),
        ],
        "doc_id long, source string, text string",
    )
    got = {r["source"]: r.asDict() for r in
           corpus_report(docs, "doc_id", "text", "source").collect()}
    a = got["a"]
    assert (a["n_docs"], a["n_tokens"], a["n_vocab"]) == (3, 8, 4)  # x y z q
    assert a["n_distinct_texts"] == 2 and a["dup_frac"] == round(1 - 2 / 3, 4)
    b = got["b"]
    assert (b["n_docs"], b["n_vocab"], b["dup_frac"]) == (1, 3, 0.0)


def test_incremental_duplicate_passages_matches_self(spark):
    """Incremental substring dedup vs the persisted shingle index must
    equal whole-corpus duplicate_passages(old ∪ new) restricted to new
    docs — including a passage duplicated only BETWEEN two new docs, one
    only between new and old, and within-old dups (which must NOT leak
    into the output)."""
    from croawl_spark.operators.dedup import (
        build_shingle_index,
        duplicate_passages,
        incremental_duplicate_passages,
        merge_shingle_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") < 300)
    cross = docs.filter(F.col("doc_id") == 7).select(
        (F.col("doc_id") + 80000).alias("doc_id"), "text"
    )  # dup of an OLD doc
    twin_src = docs.filter(F.col("doc_id") == 310)
    twin = twin_src.select((F.col("doc_id") + 81000).alias("doc_id"), "text")
    new = (
        docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
        .unionByName(cross)
        .unionByName(twin)  # dup WITHIN the new batch (310 vs 81310)
    )
    idx = build_shingle_index(old, "doc_id", "text", k=8)
    got = sorted(
        tuple(r)
        for r in incremental_duplicate_passages(
            new, idx, "doc_id", "text", k=8
        ).collect()
    )
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    want = sorted(
        tuple(r)
        for r in duplicate_passages(
            old.unionByName(new), "doc_id", "text", k=8
        ).filter(F.col("doc_id").isin(list(new_ids))).collect()
    )
    assert got == want and len(got) > 0
    assert any(r[0] == 80007 for r in got)   # new-vs-old dup found
    assert any(r[0] == 81310 for r in got)   # new-vs-new dup found
    # index update: merged index == index built over old ∪ new
    merged = merge_shingle_index(
        idx, build_shingle_index(new, "doc_id", "text", k=8)
    )
    full = build_shingle_index(old.unionByName(new), "doc_id", "text", k=8)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))


def test_export_shards_fixed_size_and_stable(spark):
    """Shard export: every shard holds exactly docs_per_shard docs (last
    ragged), membership is identical across re-exports and parallelism
    levels, and the on-disk layout is one Hive partition per shard."""
    import glob
    import tempfile

    from croawl_spark.operators.corpus import export_shards, shard_assign

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a1 = shard_assign(docs, "doc_id", 64)
    sizes = {r["shard_id"]: r["n"] for r in
             a1.groupBy("shard_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_docs = docs.count()
    full, last = divmod(n_docs, 64)
    assert all(sizes[s] == 64 for s in range(full))
    if last:
        assert sizes[full] == last
    # parallelism-invariant membership
    m1 = sorted((r["doc_id"], r["shard_id"]) for r in a1.collect())
    m2 = sorted(
        (r["doc_id"], r["shard_id"])
        for r in shard_assign(docs.repartition(17), "doc_id", 64).collect()
    )
    assert m1 == m2
    with tempfile.TemporaryDirectory() as d:
        n_shards = export_shards(docs, "doc_id", f"{d}/out", 64)
        assert n_shards == full + (1 if last else 0)
        dirs = glob.glob(f"{d}/out/shard_id=*")
        assert len(dirs) == n_shards
        back = spark.read.parquet(f"{d}/out")
        assert back.count() == n_docs


def test_ngram_novelty_planted(spark):
    """Novelty scoring: a doc that IS a reference copy scores 0.0; a doc
    sharing nothing with the reference scores 1.0; short docs get NULL
    novelty (no signal), and hash/exact forms agree."""
    from croawl_spark.operators.corpus import ngram_novelty

    base = " ".join(f"ref{i}" for i in range(20))
    ref = spark.createDataFrame([(100, base)], "doc_id long, text string")
    cand = spark.createDataFrame(
        [
            (1, base),                                         # full copy
            (2, " ".join(f"new{i}" for i in range(20))),       # all new
            (3, "too short"),                                  # < 8 tokens
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_shingles"], r["novelty"])
           for r in ngram_novelty(cand, ref, "doc_id", "text", n=8).collect()}
    assert got[1] == (13, 0.0)
    assert got[2] == (13, 1.0)
    assert got[3] == (0, None)
    exact = {r["doc_id"]: (r["n_shingles"], r["novelty"])
             for r in ngram_novelty(
                 cand, ref, "doc_id", "text", n=8, hash_shingles=False
             ).collect()}
    assert exact == got


def test_token_length_histogram_bins(spark):
    """Histogram bins: exact per-bin counts, no token explode in the
    plan (size() on the split array only)."""
    from croawl_spark.operators.corpus import token_length_histogram

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d"), (3, " ".join(["x"] * 40))],
        "doc_id long, text string",
    )
    out = token_length_histogram(docs, "text", bin_width=32)
    got = {(r["bin_start"], r["bin_end"]): r["n_docs"] for r in out.collect()}
    assert got == {(0, 31): 2, (32, 63): 1}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan  # no explode


def test_bpe_train_matches_reference(spark):
    """Distributed BPE training must reproduce the reference algorithm's
    exact merge sequence (Sennrich et al. 2016 word-frequency form, same
    deterministic count-then-pair tiebreak) on a corpus with a known
    merge structure."""
    from collections import Counter

    from croawl_spark.operators.corpus import bpe_train

    texts = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "widest widest widest",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = bpe_train(docs, "text", n_merges=12)

    # pure-python reference
    wf = Counter(w for t in texts for w in t.split(" ") if w)
    vocab = {w: list(w) + ["</w>"] for w in wf}
    want = []
    for _ in range(12):
        pc = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wf[w]
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if best[1] < 2:
            break
        (l, r), _ = best
        want.append((l, r))
        for w, syms in vocab.items():
            s, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    s.append(l + r)
                    i += 2
                else:
                    s.append(syms[i])
                    i += 1
            vocab[w] = s
    assert got == want and len(got) >= 8
    # sanity: the classic merges appear ("es" / "est" family from newest/widest)
    assert ("e", "s") in got or ("es", "t") in got or ("s", "t") in got


def test_resample_sources_rejects_absent_weights(spark):
    """A weight set naming no source present in the data raises a
    descriptive error instead of an opaque empty-min ValueError."""
    import pytest as _pytest

    from croawl_spark.operators.corpus import resample_sources

    docs = spark.createDataFrame([(1, "web")], "doc_id long, src string")
    with _pytest.raises(ValueError, match="no weighted source present"):
        resample_sources(docs, "doc_id", "src", {"missing": 1.0})


def test_remove_duplicate_passages_pathological_doc(spark):
    """r06 (VERDICT r05 minor #2): a fully-duplicated long document — one
    phrase repeated thousands of times — must rebuild in bounded time.
    The old position-set filter ran O(tokens x dropped positions) per doc
    (~4x10^8 membership tests for this 20k-token doc); the span form is
    O(tokens x spans) with one merged span here. Semantics pinned: the
    globally first shingle occurrence survives, every later covered
    position is removed, and token accounting is exact."""
    import time

    from croawl_spark.operators.dedup import remove_duplicate_passages

    phrase = " ".join(f"w{i}" for i in range(8))
    long_doc = " ".join([phrase] * 2500)  # 20k tokens, all shingles dup'd
    docs = spark.createDataFrame(
        [(1, long_doc), (2, "completely unrelated filler text here ok")],
        "doc_id long, text string",
    )
    t0 = time.perf_counter()
    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
        for r in remove_duplicate_passages(docs, "doc_id", "text", k=8)
        .select("doc_id", "clean_text", "n_removed_tokens")
        .collect()
    }
    wall = time.perf_counter() - t0
    clean, n_rm = out[1]
    n_tok = 2500 * 8
    # the doc's distinct shingles are the 8 cyclic rotations of the
    # phrase; their first occurrences sit at positions 1..8, so the
    # removable occurrences are positions 9..19993, merging (gap <= k)
    # into ONE span [9, 20000]: 19992 tokens removed, the first phrase
    # copy survives
    assert n_rm == n_tok - 8
    assert clean == phrase
    assert out[2] == ("completely unrelated filler text here ok", 0)
    assert wall < 60, f"pathological rebuild took {wall:.0f}s"


def test_bpe_train_local_equals_distributed(spark):
    """r06: the driver-local merge loop (fast path under
    driver_local_max_words) must produce the EXACT merge sequence of the
    distributed per-round loop — same counts, same deterministic
    tiebreak."""
    from croawl_spark.operators.corpus import bpe_train

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(80)
    local = bpe_train(docs, "text", n_merges=12)
    dist = bpe_train(docs, "text", n_merges=12, driver_local_max_words=0)
    assert local == dist and len(local) == 12


def test_graph_ops_driver_local_equals_distributed(spark):
    """r06: the driver-local fixpoint fast path (numpy hash-min /
    power-method under DRIVER_LOCAL_MAX_EDGES) must reproduce the
    distributed loops exactly — bit-identical labels for both
    connected-components variants (integer min-propagation), and
    machine-epsilon-level rank parity (asserted at the 6dp rounding the
    host_rank oracle key applies) for pagerank."""
    import random

    from croawl_spark.operators.cluster import (
        connected_components,
        connected_components_star,
    )
    from croawl_spark.operators.pagerank import pagerank

    rnd = random.Random(11)
    n = 400
    edges = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(600)]
    edges += [(i, i + 1) for i in range(300, 380)]  # a chain segment
    verts = spark.range(n).select(F.col("id"))
    e_df = spark.createDataFrame(edges, "src long, dst long")

    for fn in (connected_components, connected_components_star):
        local = sorted(fn(verts, e_df).collect())
        dist = sorted(fn(verts, e_df, driver_local_max_edges=0).collect())
        assert local == dist, fn.__name__

    pr_local = {
        r["id"]: r["rank"] for r in pagerank(verts, e_df, n_iter=6).collect()
    }
    pr_dist = {
        r["id"]: r["rank"]
        for r in pagerank(
            verts, e_df, n_iter=6, driver_local_max_edges=0
        ).collect()
    }
    assert set(pr_local) == set(pr_dist) == set(range(n))
    assert all(
        round(pr_local[k], 6) == round(pr_dist[k], 6) for k in pr_local
    )
    assert abs(sum(pr_local.values()) - 1.0) < 1e-9


def test_embed_pairs_driver_local_equals_distributed(spark):
    """r06: the driver-local LSH pair derivation (numpy replica under
    DRIVER_LOCAL_MAX_VECTORS) must emit EXACTLY the distributed
    pipeline's rows — same group collapse, same hyperplane buckets, same
    occupancy-cap refinement, bit-equal cosines (the local fold
    replicates cosine_expr's sequential double arithmetic). Covers a
    cap-refinement geometry (bucket_cap=4) and a low threshold with
    ~1.6k float-compared pairs."""
    import numpy as np

    from croawl_spark.operators.ann import embed_dedup_pairs

    rng = np.random.RandomState(7)
    n, d = 240, 16
    V = rng.standard_normal((n, d)).astype(np.float32)
    V[50] = V[10]
    V[51] = V[10]
    V[120] = V[119]  # planted exact dups
    rows = [(int(i), [float(x) for x in V[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    for kw in (
        dict(),
        dict(bucket_cap=4, n_extra=4),
        dict(n_tables=6, threshold=0.3),
        dict(n_extra=0),
    ):
        loc = sorted(map(tuple, embed_dedup_pairs(df, dim=d, **kw).collect()))
        dist = sorted(
            map(
                tuple,
                embed_dedup_pairs(
                    df, dim=d, driver_local_max_vectors=-1, **kw
                ).collect(),
            )
        )
        assert loc == dist and len(loc) > 0, kw


def _jobs_and_result(spark, call):
    """(number of Spark jobs ``call()`` starts, its result), read from the
    status tracker under a job group of its own. A marker job in a second
    group is awaited first: the tracker is fed by the listener bus in
    order, so once the marker shows, every job of the call has shown."""
    import time
    import uuid

    sc = spark.sparkContext
    group, marker = f"t-{uuid.uuid4()}", f"m-{uuid.uuid4()}"
    sc.setJobGroup(group, "gate count test")
    try:
        out = call()
        sc.setJobGroup(marker, "gate count test marker")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(marker) and time.time() < deadline:
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group)), out


def test_gate_forced_off_skips_count(spark):
    """A driver-local gate forced off (0) skips the gate's count: against
    a gate just below the input size (count taken, then the same
    distributed path) embed_dedup_pairs and bpe_train start exactly the
    jobs of one count() fewer and return the same rows, schema and column
    order. On an empty input the forced-off call returns what the
    driver-local path returns."""
    import numpy as np

    from croawl_spark.operators.ann import embed_dedup_pairs
    from croawl_spark.operators.corpus import bpe_train

    rng = np.random.RandomState(3)
    V = rng.standard_normal((120, 8)).astype(np.float32)
    V[7] = V[3]
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(len(V))],
        "vec_id long, embedding array<float>",
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(40)

    def embed(df, gate):
        out = embed_dedup_pairs(df, dim=8, threshold=0.3, driver_local_max_vectors=gate)
        return out.schema, sorted(map(tuple, out.collect()))

    def bpe(df, gate):
        return bpe_train(df, "text", n_merges=6, driver_local_max_words=gate)

    one_count = _jobs_and_result(spark, vecs.count)[0]  # 2 jobs under AQE
    for fn, df in ((embed, vecs), (bpe, docs)):
        n_off, off = _jobs_and_result(spark, lambda: fn(df, 0))
        n_on, on = _jobs_and_result(spark, lambda: fn(df, 1))
        assert off == on and n_off == n_on - one_count, (fn.__name__, n_off, n_on)
        assert (off[1] if fn is embed else off), fn.__name__
        empty = df.limit(0)
        assert fn(empty, 0) == fn(empty, 1), fn.__name__


def test_pack_sequences_inclusive_cumsum_and_batches(spark):
    """pack_sequences' distributed two-phase range-partition cumsum gives,
    in id order, the inclusive int64 cumsum of n_tokens and
    batch_id = tokens before the doc // budget; duplicate ids keep every
    row."""
    from croawl_spark.operators.corpus import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = sorted(map(tuple, pack_sequences(docs, "doc_id", "text", 512).collect()))
    assert len(got) == docs.count()
    prev = 0
    for _id, n, cum, batch in got:
        assert cum == prev + n and batch == (cum - n) // 512
        prev = cum

    dup = docs.unionByName(docs.limit(3))
    out = pack_sequences(dup, "doc_id", "text", 512)
    assert out.count() == docs.count() + 3


def _resample_reference(src_sql: str, id_sql: str, weights: dict) -> list:
    """DuckDB window reference for resample_sources: per source, the rows
    with row_number() OVER (PARTITION BY lang ORDER BY md5(id), id) <=
    quota, with the quota arithmetic of ORACLE["domain_mix"]."""
    import duckdb

    wv = ", ".join(f"('{s}', CAST({w!r} AS DOUBLE))" for s, w in weights.items())
    sql = (
        f"WITH d AS (SELECT {id_sql} AS id, lang FROM {src_sql}), "
        "n AS (SELECT lang, count(*) AS c FROM d GROUP BY lang), "
        f"w(lang, wt) AS (VALUES {wv}), "
        "t AS (SELECT min(c / wt) AS tv FROM n JOIN w USING (lang)), "
        "q AS (SELECT lang, CAST(floor(wt * tv) AS BIGINT) AS quota "
        "FROM n JOIN w USING (lang) CROSS JOIN t), "
        "r AS (SELECT id, lang, row_number() OVER (PARTITION BY lang "
        "ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn FROM d) "
        "SELECT id, lang FROM r JOIN q USING (lang) WHERE rn <= quota"
    )
    con = duckdb.connect()
    try:
        return sorted(con.sql(sql).fetchall())
    finally:
        con.close()


def test_resample_sources_equals_window_reference(spark):
    """resample_sources' prefilter + salted two-phase rank keeps exactly
    the (md5(id), id)-ranked quota per source that a plain window gives,
    for integer AND string ids, including a keep-all source, a
    weighted-but-absent source and a mix with no keep-all source; the
    output keeps docs' column order."""
    from croawl_spark.operators.corpus import resample_sources

    path = "/root/testdata/sf0.01/documents.parquet"
    d = spark.read.parquet(path)
    for w in (
        {"en": 0.5, "zh": 0.25, "es": 0.25},
        {"en": 0.3, "zh": 0.7},
        {"en": 1.0, "fr": 0.5},  # fr absent from the data: ignored
        # both quotas floor below their counts (fr: 63 of 64): no keep-all
        # source, so the using-join's column order would show
        {"en": 0.05, "fr": 0.95},
    ):
        out = resample_sources(d, "doc_id", "lang", w)
        assert out.columns == d.columns, w
        got = sorted(map(tuple, out.select("doc_id", "lang").collect()))
        assert got == _resample_reference(f"'{path}'", "doc_id", w) and got, w

    sd = d.select(
        F.concat(F.lit("d:"), F.col("doc_id").cast("string")).alias("sid"),
        "lang",
    )
    w = {"en": 0.4, "zh": 0.6}
    out = resample_sources(sd, "sid", "lang", w)
    assert out.columns == sd.columns
    got = sorted(map(tuple, out.collect()))
    want = _resample_reference(f"'{path}'", "'d:' || CAST(doc_id AS VARCHAR)", w)
    assert got == want and got


def test_graph_loops_fused_convergence_scalar(spark):
    """r06 third pass: the distributed loops' per-round scalars
    (changed-label count, star edge count, pagerank flowed mass) are
    fused into the checkpoint job via ``observe``. Regression guards:
    the observation must fire (not hang) on forced-distributed runs,
    including the empty-edge-set edge case, and labels must equal the
    driver-local fixpoint."""
    from croawl_spark.operators.cluster import (
        connected_components,
        connected_components_star,
    )
    from croawl_spark.operators.pagerank import pagerank

    verts = spark.range(60).select(F.col("id"))
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "src long, dst long"
    )
    empty = spark.createDataFrame([], "src long, dst long")
    for fn in (connected_components, connected_components_star):
        loc = sorted(map(tuple, fn(verts, edges).collect()))
        dist = sorted(
            map(tuple, fn(verts, edges, driver_local_max_edges=0).collect())
        )
        assert loc == dist, fn.__name__
        out = fn(verts, empty, driver_local_max_edges=-1).collect()
        assert len(out) == 60 and all(r["id"] == r["component"] for r in out)
    pr = {
        r["id"]: r["rank"]
        for r in pagerank(verts, empty, n_iter=3, driver_local_max_edges=-1).collect()
    }
    assert len(pr) == 60 and abs(sum(pr.values()) - 1.0) < 1e-9
