"""Host-level PageRank — crawl prioritization signal over the link graph.

A frontier scheduler that knows host importance can spend its politeness
budget on high-value hosts first; PageRank over the host->host link graph
is the classic signal (Page et al., 1999; Cho/Garcia-Molina/Page used it
to order crawls). Expressed as the standard iterative power method in
DataFrame joins:

  rank_{t+1}(v) = (1-d)/N + d * sum_{u->v} rank_t(u) / out_deg(u)

Scale shape (same discipline as operators/cluster.py):
  * each round is ONE equi-join (edges ⋈ ranks on src) + one map-side-
    partial sum aggregate on dst — both shuffle narrow (src, dst, double).
  * dangling mass (vertices with no outlinks) is redistributed uniformly
    from a trivial scalar sum over the round's already-materialized
    aggregate (flowed mass == total contrib mass) — no dedicated job, no
    cross join.
  * fixed iteration count (deterministic at any parallelism; convergence
    at web scale takes ~50 rounds, callers tune n_iter), lineage truncated
    per round with localCheckpoint so plans don't grow.
  * out-degrees computed once and persisted; the per-round join reuses it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from croawl_spark.operators.cluster import DRIVER_LOCAL_MAX_EDGES


def _pagerank_driver_local(
    spark, v: DataFrame, e: DataFrame, n: int, n_iter: int, damping: float
) -> DataFrame | None:
    """Power method on the driver once the graph fits the collect gate
    (r06, the bpe_train/connected_components driver-local pattern): the
    scale-bearing passes — vertex distinct + edge distinct/semi-join —
    already ran distributed; below the gate the 2-jobs-per-round loop is
    pure scheduling overhead. numpy vectorized, same per-round math
    (contrib = rank/out_deg summed per dst; dangling mass = 1 - flowed,
    redistributed uniformly); float sums differ from the distributed
    partial-aggregation order only at machine-epsilon scale — callers
    round well above it (host_rank: 6dp). Returns None when ids are
    non-integer (keeps the legacy path)."""
    import numpy as np
    import pyarrow.types as pat

    vt = v.select("id").toArrow()
    # select by NAME: the using-column semi-joins upstream reorder the
    # edge frame's columns (the join key moves to the front)
    et = e.select("src", "dst").toArrow()
    if not all(
        pat.is_integer(f.type) for t in (vt, et) for f in t.schema
    ) or any(c.null_count for t in (vt, et) for c in t.columns):
        return None
    import pandas as pd

    ids = np.sort(vt.column(0).to_numpy().astype(np.int64, copy=False))
    src = np.searchsorted(ids, et.column(0).to_numpy().astype(np.int64, copy=False))
    dst = np.searchsorted(ids, et.column(1).to_numpy().astype(np.int64, copy=False))
    out_deg = np.zeros(n, dtype=np.int64)
    np.add.at(out_deg, src, 1)
    rank = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        in_mass = np.zeros(n)
        np.add.at(in_mass, dst, rank[src] / out_deg[src])
        flowed = in_mass.sum()
        dangling = (1.0 - flowed) / n
        rank = (1.0 - damping) / n + damping * (in_mass + dangling)
    return spark.createDataFrame(
        pd.DataFrame({"id": ids, "rank": rank})
    ).select(F.col("id").cast(dict(v.dtypes)["id"]), F.col("rank"))


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 10,
    damping: float = 0.85,
    driver_local_max_edges: int | None = None,
) -> DataFrame:
    """-> (id, rank); sum(rank) == 1 up to float error every round.

    vertices: one row per vertex (isolated vertices allowed). edges:
    directed pair list; duplicate edges are deduped (unweighted graph).
    """
    v = vertices.select(F.col(id_col).alias("id")).distinct().localCheckpoint()
    n = v.count()
    # Size-derived partitioning for the per-round state: vertex-keyed
    # frames hold ≤ n tiny (id, double) rows, so target ~500k rows per
    # partition instead of inheriting spark.sql.shuffle.partitions. AQE
    # coalesces shuffle READS but not what localCheckpoint/persist STORE —
    # without this, a toy graph checkpoints 32 near-empty partitions per
    # round and the 8-round loop pays ~17 × 32 task launches of pure
    # scheduling overhead (measured: ~25% of warm wall at sf0.1). At
    # 10^8 hosts the same rule keeps hundreds of partitions — the knob
    # scales with the data, not the box.
    par = max(1, min(vertices.sparkSession.sparkContext.defaultParallelism,
                     -(-n // 500_000)))
    v = v.coalesce(par)
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .join(v.select(F.col("id").alias("src")), "src", "left_semi")
        .join(v.select(F.col("id").alias("dst")), "dst", "left_semi")
        .persist()
    )
    # Same size-derived rule for the edge frame the 8+ rounds re-scan
    # (r06): the persisted distinct/semi-join output inherits shuffle-conf
    # partitioning, so every round's contribs job paid shuffle-conf-many
    # scan tasks over a tiny cached set. One O(1)-result count sizes it;
    # at web scale par_e stays at defaultParallelism and the coalesce is
    # a no-op in effect.
    n_e = e.count()
    # Driver-local fast path (r06): both setup counts are paid anyway (they
    # size the loop); when vertices AND distinct edges fit the collect
    # gate, run the power loop on the driver instead of 2 jobs x n_iter.
    if driver_local_max_edges is None:
        driver_local_max_edges = DRIVER_LOCAL_MAX_EDGES
    if n <= driver_local_max_edges and n_e <= driver_local_max_edges:
        local = _pagerank_driver_local(
            vertices.sparkSession, v, e, n, n_iter, damping
        )
        if local is not None:
            e.unpersist()
            return local
    par_e = max(par, min(vertices.sparkSession.sparkContext.defaultParallelism,
                         -(-n_e // 500_000)))
    e_base, e = e, e.coalesce(par_e)
    out_deg = (
        e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
        .coalesce(par)
        .persist()
    )
    ranks = v.select("id", F.lit(1.0 / n).alias("rank"))
    for _ in range(n_iter):
        # The round's ONLY heavy job: edges ⋈ ranks + map-side-partial sum,
        # materialized once (localCheckpoint). `ranks` itself is never
        # checkpointed — it stays a LAZY one-join view over the round's
        # checkpointed aggregate (constant plan depth, so lineage still
        # doesn't grow), folded into the next round's contribs job instead
        # of costing a job of its own. Dangling mass needs no job either:
        # the mass that flowed through edges is EXACTLY the total contrib
        # mass (each src with out-degree contributes out_deg × rank/out_deg
        # = rank across its edges), so `flowed` is a trivial scalar sum
        # over the checkpointed aggregate — the former per-round
        # ranks⋉out_deg semi-join+agg job is gone. Net: 2 actions/round
        # (one heavy, one ~constant) vs 3 in the naive fold and 2-heavy in
        # the r03 shape. (The in-plan broadcast-scalar crossJoin variant
        # was measured ~30% slower at sf0.1 and stays retired — see the
        # memory ledger's do-not-retry list.)
        # r06 third pass: `flowed` is fused into the heavy job itself via
        # ``observe`` (a CollectMetrics sum computed as the aggregate's
        # rows stream into the checkpoint) — the former per-round scalar-
        # agg job is gone, so the loop is ONE action per round. Float sum
        # order across partitions is nondeterministic in the separate-job
        # form too, so this changes nothing the 6dp oracle rounding (or
        # the parity test) can see.
        from pyspark.sql import Observation

        obs = Observation()
        contribs = (
            e.join(ranks.withColumnRenamed("id", "src"), "src")
            .join(out_deg, "src")
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("out_deg")).alias("contrib"),
            )
            .groupBy("id")
            .agg(F.sum("contrib").alias("in_mass"))
            .coalesce(par)
            .observe(
                obs, F.coalesce(F.sum("in_mass"), F.lit(0.0)).alias("flowed")
            )
            .localCheckpoint()
        )
        flowed = float(obs.get["flowed"])
        dangling = (1.0 - flowed) / n
        ranks = (
            v.join(contribs, "id", "left")
            .select(
                "id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("in_mass"), F.lit(0.0)) + F.lit(dangling))
                ).alias("rank"),
            )
        )
    e_base.unpersist()
    out_deg.unpersist()
    return ranks
