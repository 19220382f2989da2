"""Salted two-phase window ranking (W1) + deterministic top-k.

The per-host politeness priority queue from BASELINE.json ("salted
window-ranked batches to defuse hot-host skew"): a plain
``row_number() OVER (PARTITION BY host ORDER BY ...)`` puts every URL of a
hot host into ONE task — at the 10^10-URL design point a zipfian host owning
30% of the frontier would serialize the whole stage. The fix is two-phase:

  phase 1: partition by (host, salt) where salt = pmod(url_hash, S);
           rank within each of the S subgroups and keep ranks <= k.
           Each subgroup survives with at most k rows, so phase 2 sees
           at most k*S rows per host regardless of host size.
  phase 2: exact re-rank of the survivors partitioned by host alone;
           keep ranks <= k.

Both phases order by data-derived columns only (depth, disc_seq, ...), never
by partition id or wall clock, so the result is byte-identical at local[8]
and local[32] — the cluster-size-invariance the driver's scaling rule
requires (SURVEY.md §4 MANUAL determinism rules).

Correctness argument: the true per-host top-k by a total order is a subset of
the union of per-subgroup top-k's (any row in the true top-k is within the
top-k of whatever subgroup it landed in), so phase 1 never drops a winner.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def salted_topk(
    df: DataFrame,
    group_col: str,
    order_cols: list[Column | str],
    k: int,
    salt_src: str = "url_hash",
    n_salt: int = 16,
    rank_name: str = "host_rank",
) -> DataFrame:
    """Deterministic per-group top-k with salt-based skew defusal.

    order_cols MUST form a total order within a group (e.g. include a
    unique tiebreaker like disc_seq) — otherwise determinism is lost.
    """
    salt = F.pmod(F.col(salt_src), F.lit(n_salt))
    w1 = Window.partitionBy(F.col(group_col), salt).orderBy(*order_cols)
    pruned = (
        df.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1")
    )
    w2 = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        pruned.withColumn(rank_name, F.row_number().over(w2))
        .filter(F.col(rank_name) <= k)
    )


def range_partitions(
    df: DataFrame,
    order_cols: list[str],
    value: Column,
    n_parts: int,
) -> tuple[DataFrame, list[int]]:
    """Range-partition ``df`` on ``order_cols`` (a total order), sort each
    partition, and checkpoint the result once. The checkpoint job itself
    reads the per-partition sum of the integral ``value``: an ``observe``
    with one conditional sum per partition id (``n_parts`` is fixed), so
    no count job and no collect follow it.

    -> (parted, sums). ``parted`` carries ``_pid`` (its partition) and
    ``_pos`` (the 0-based position inside that partition, in order);
    ``sums[i]`` is the sum of ``value`` over partition ``i``. Partition
    ``i`` holds a contiguous range of the order that precedes partition
    ``i + 1``'s, so the rows before a row in the global order are the
    rows of the earlier partitions plus ``_pos`` rows of its own.
    """
    from pyspark.sql import Observation

    cols = [F.col(c) for c in order_cols]
    pid = F.col("_pid")
    obs = Observation()
    parted = (
        df.repartitionByRange(n_parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
        # monotonically_increasing_id is (partition << 33) + row index in
        # the partition: minus the partition part it is the in-partition
        # position, which the sort above makes a pure function of the data
        .withColumn(
            "_pos",
            F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33),
        )
        .observe(
            obs,
            *[
                F.sum(F.when(pid == i, value).otherwise(0)).alias(f"p{i}")
                for i in range(n_parts)
            ],
        )
        .localCheckpoint()
    )
    got = obs.get
    return parted, [int(got[f"p{i}"] or 0) for i in range(n_parts)]


def partition_offsets(sums: list[int], start: int = 0) -> Column:
    """Exclusive prefix sums of ``sums`` (plus ``start``) as a literal
    array, looked up by ``_pid``: the total of all earlier partitions."""
    offs, acc = [], start
    for s in sums:
        offs.append(acc)
        acc += s
    return F.element_at(
        F.array(*[F.lit(o).cast("long") for o in offs]), F.col("_pid") + 1
    )


def global_sequence(
    df: DataFrame,
    order_cols: list[str],
    seq_name: str,
    start: int = 0,
    n_parts: int | None = None,
    eager_input: bool = False,
) -> tuple[DataFrame, int]:
    """Cluster-size-invariant global sequence: dense rank over a total order,
    computed WITHOUT a single-partition window.

    Range-partition on the order columns (parallel sort) and read each
    partition's row count from the same checkpoint job
    (:func:`range_partitions`); a row's sequence is ``start`` plus the
    rows of earlier partitions plus its position in its own. No window,
    no join, no exchange after the range partition. The result depends
    only on the data (order_cols must be a total order) — range
    boundaries chosen by sampling affect task placement, never the
    output. -> (df + seq_name, number of rows).

    The output is coalesced (narrow: neighbouring ranges merge) so that no
    partition holds less than one Arrow batch of rows
    (``spark.sql.execution.arrow.maxRecordsPerBatch``) — the partition
    sizing AQE gives a shuffle read, which no shuffle follows here to
    give. A smaller partition is only a task's overhead, and a Python
    consumer (the crawl's fetch) or a writer (one file per partition)
    pays it per partition.

    ``eager_input`` (r06): the range exchange SAMPLES its child to pick
    boundaries, so the segment of the input plan above its last shuffle
    runs twice (sample pass + map pass). Callers whose input ends in
    non-trivial post-shuffle work (window top-k, anti-join probes) pass
    True to checkpoint the input once; values are unaffected either way.
    """
    spark = df.sparkSession
    if eager_input:
        df = df.localCheckpoint()
    if n_parts is None:
        n_parts = max(spark.sparkContext.defaultParallelism, 8)
    parted, counts = range_partitions(df, order_cols, F.lit(1), n_parts)
    n = sum(counts)
    per_part = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    seq = (partition_offsets(counts, start) + F.col("_pos")).cast("long")
    out = parted.withColumn(seq_name, seq).drop("_pid", "_pos")
    # a non-positive batch size means "no limit": one partition
    return out.coalesce(max(1, -(-n // per_part) if per_part > 0 else 1)), n
