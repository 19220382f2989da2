"""MinHash + LSH near-duplicate detection — fully DataFrame-native.

Everything stays JVM-side (no Python in the hot path): shingling via
higher-order array functions, permutation hashes via ``xxhash64(shingle, p)``
(seeded by the permutation index as a literal column), signatures via a
per-row ``array_min`` over each doc's own shingle hashes, collected into
ONE ``array<long>`` column, banding via ``xxhash64`` over signature slices.

Scale shape: signatures need no exchange (each is a function of its own
row), then one explode (docs x bands) and one self-join on (band, key) —
the classic shingle -> minhash -> band -> bucket-join pipeline. The band
self-join is projected down to (id, band, key) BEFORE the shuffle:
signatures are re-attached to the (much smaller) candidate-pair set
afterwards by two narrow id-keyed joins, so the widest columns never ride
the widest join. The band join is an equi-join on a high-cardinality key,
so it shuffles well and AQE handles skewed buckets (e.g. boilerplate-heavy
corpora).

Incremental path: ``minhash_signature`` output is the persistable index
(one array<long> row per doc — ~136 B at n_perm=16); a new batch probes it
with ``incremental_minhash_pairs`` — band keys for the old corpus are
re-derived from the stored signatures (16 JVM hashes/doc, no re-shingling
of old text) and only the new batch pays the shingle+minhash cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shingles(df: DataFrame, text_col: str, k: int = 3) -> DataFrame:
    """Add ``shingles: array<string>`` of k-word shingles (distinct),
    never NULL or empty: NULL text and ``""`` both give ``[""]``.

    The token array is materialized in its own projection before the
    per-position lambda (r06): ``split()`` inside ``transform``'s lambda
    re-splits the text once per position — O(tokens²) per doc. So put no
    predicate over ``shingles``: Catalyst pushes it below that projection
    and substitutes ``split`` back into the lambda (test_plans.py pins it)."""
    toks = F.col("_mh_toks")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    return (
        df.withColumn("_mh_toks", F.split(F.lower(F.col(text_col)), " "))
        .withColumn("shingles", F.array_distinct(sh))
        .drop("_mh_toks")
    )


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, n_perm: int = 16, k: int = 3
) -> DataFrame:
    """-> (id_col, sig: array<long>[n_perm]) MinHash signature per input
    row. Rows are not grouped by id: ``id_col`` should be a unique document
    key, and a repeated id gets one signature row per input row.

    This is also the persistable dedup index (write it with TableIO and
    probe later batches against it).

    Zero-exchange (r06 third pass, guide §2.4): each permutation minimum
    is ``array_min`` over the doc's own shingle array — a per-row JVM
    expression — instead of the historical explode + groupBy(min x16),
    which paid a full (doc x shingle) shuffle to compute a value that
    never needed cross-row data. Signature VALUES are byte-identical
    (min over the same distinct-shingle multiset, same ``xxhash64(shingle,
    p)`` hashes). Every input row is signed: ``shingles`` is never NULL
    or empty, and NULL text signs like ``""``."""

    def _perm_min(p: int) -> F.Column:
        # NB: the lambda must stay single-argument — pyspark treats a
        # two-argument transform lambda as (element, index)
        return F.array_min(F.transform("shingles", lambda s: F.xxhash64(s, F.lit(p))))

    mins = [_perm_min(p) for p in range(n_perm)]
    return shingles(df, text_col, k).select(id_col, F.array(*mins).alias("sig"))


def _band_structs(n_perm: int, n_bands: int) -> F.Column:
    """array<struct<band,key>> derived from the ``sig`` array column."""
    rows = n_perm // n_bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.element_at("sig", b * rows + r + 1) for r in range(rows)],
                    F.lit(b),
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )


def band_keys(
    sig: DataFrame, id_col: str, n_perm: int = 16, n_bands: int = 4
) -> DataFrame:
    """(id, sig) -> (id, band, key): the narrow projection that rides the
    LSH bucket join (12 B of key per row instead of the full signature)."""
    return sig.select(
        id_col, F.explode(_band_structs(n_perm, n_bands)).alias("bk")
    ).select(id_col, "bk.band", "bk.key")


def _est_sim(n_perm: int) -> F.Column:
    """Fraction of equal components of sig_a/sig_b (unbiased Jaccard est)."""
    eq = F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int"))
    return F.aggregate(eq, F.lit(0), lambda acc, v: acc + v) / F.lit(float(n_perm))


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str, n_perm: int = 16, n_bands: int = 4
) -> DataFrame:
    """Band the signatures and self-join: pairs sharing >=1 band bucket.

    -> (id_a, id_b, est_sim) with id_a < id_b. The self-join ships only
    (id, band, key); signatures re-attach to the deduped candidate pairs
    via two narrow id-keyed joins (pairs << corpus, so these joins are
    broadcast-able and the signature table crosses the wire once per doc,
    not 2 x n_bands times).
    """
    banded = band_keys(sig, id_col, n_perm, n_bands)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", _est_sim(n_perm).alias("est_sim"))
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    n_perm: int = 16,
    n_bands: int = 4,
    k: int = 3,
    driver_local_max_sigs: int | None = None,  # unread; perfbench still passes it
) -> DataFrame:
    """Near-duplicate pairs of a corpus: MinHash signatures, LSH banding
    into ``n_bands`` bands of ``n_perm // n_bands`` rows, and the pairs
    that share a bucket in at least one band and whose estimated Jaccard
    similarity is ``>= threshold``.

    -> (id_a, id_b, est_sim) with id_a < id_b. ``id_col`` must be unique:
    rows sharing an id are signed and paired separately, so a pair can
    appear more than once and an id never pairs with its own copy.
    """
    # eager (r06): the signature table feeds THREE consumers inside
    # lsh_candidate_pairs (band derivation + both re-attach sides) —
    # checkpoint it once so the shingle+minhash pass (the corpus-scale
    # pass) runs once instead of three times per plan. Signature
    # VALUES are untouched; the streaming ingest (jobs.py) already
    # checkpoints its signatures for the same reason.
    sig = minhash_signature(df, id_col, text_col, n_perm, k).localCheckpoint()
    return lsh_candidate_pairs(sig, id_col, n_perm, n_bands).filter(
        F.col("est_sim") >= threshold
    )


def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs via banded LSH on the 64-bit simhash.

    The 64-bit signature splits into n_bands 16-bit bands; by pigeonhole,
    any pair within hamming distance <= n_bands - 1 shares at least one
    unchanged band, so with the default (4 bands, max_hamming=3) the
    candidate join has EXACT recall — identical output to the all-pairs
    hamming filter, at bucket-join cost. Same scale shape as the minhash
    path: the band join ships (id, band, key); signatures re-attach to
    candidates for the exact ``bit_count(xor)`` filter (JVM built-ins).

    -> (id_a, id_b, hamming) with id_a < id_b, hamming <= max_hamming.
    """
    from croawl_spark.functions.text import simhash_udf

    assert max_hamming < n_bands, "exact recall needs n_bands > max_hamming"
    width = 64 // n_bands
    # eager (r06): the simhash column comes out of a vectorized Python
    # UDF and feeds three consumers (banding + both re-attach sides) —
    # checkpoint so the Arrow crossing runs once per corpus, not thrice
    sims = df.select(
        id_col, simhash_udf(F.col(text_col)).alias("sh")
    ).localCheckpoint()
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("sh", b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sims.select(id_col, F.explode(bands).alias("bk")).select(
        id_col, "bk.band", "bk.key"
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sims.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sims.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def incremental_minhash_pairs(
    new_df: DataFrame,
    index_sig: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    n_perm: int = 16,
    n_bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """Near-dup pairs for a NEW batch against a persisted signature index
    (plus within-batch self pairs) — the old corpus text is never touched.

    -> (id_a, id_b, est_sim) with id_a < id_b (pair orientation normalized
    via least/greatest, so the result equals the whole-corpus self-dedup
    restricted to pairs involving a new doc regardless of how old and new
    ids interleave — the precondition is only that the id SETS are
    disjoint, not that old ids sort below new ones). Cross pairs against
    the index plus new-vs-new pairs; signatures/band keys are identical
    deterministic functions of the text.
    """
    # eager (r06): new_sig feeds the cross-pair banding, the signature
    # union AND the within-batch self-pair derivation — checkpoint once
    # (same rationale as minhash_dedup_pairs)
    new_sig = minhash_signature(
        new_df, id_col, text_col, n_perm, k
    ).localCheckpoint()
    nb = band_keys(new_sig, id_col, n_perm, n_bands).select(
        F.col(id_col).alias("_nid"), "band", "key"
    )
    ob = band_keys(index_sig, id_col, n_perm, n_bands).select(
        F.col(id_col).alias("_oid"), "band", "key"
    )
    cross = (
        nb.join(ob, ["band", "key"])
        .select(
            F.least("_oid", "_nid").alias("id_a"),
            F.greatest("_oid", "_nid").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # after orientation normalization either side of a cross pair can be
    # the old or the new doc, so signature lookup goes against the union
    # (id sets are disjoint by precondition — no ambiguity)
    all_sig = index_sig.select(F.col(id_col).alias("_sid"), "sig").unionByName(
        new_sig.select(F.col(id_col).alias("_sid"), "sig")
    )
    sa = all_sig.select(F.col("_sid").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = all_sig.select(F.col("_sid").alias("id_b"), F.col("sig").alias("sig_b"))
    cross_scored = (
        cross.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", _est_sim(n_perm).alias("est_sim"))
        .filter(F.col("est_sim") >= threshold)
    )
    self_pairs = lsh_candidate_pairs(new_sig, id_col, n_perm, n_bands).filter(
        F.col("est_sim") >= threshold
    )
    return cross_scored.unionByName(self_pairs)
