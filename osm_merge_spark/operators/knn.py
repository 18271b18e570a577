"""Candidate ranking / kNN selection (J3, T1-T3 in SURVEY §2).

The reference caps candidate lists at 5 (scan order — nondeterministic,
conflator.py:262-267) then picks best by max hits / min distance
(conflator.py:285-298). Spark-first: one aggregation per step with
explicit deterministic tie-breaks (id ascending) — a documented semantic
fix over the reference's scan-order dependence. top_k_agg caps,
best_candidate picks the winner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_k_agg(pairs: DataFrame, partition_key: str, dist_col: str,
              tie_col: str, k: int, const_cols: list[str] = (),
              payload_cols: list[str] = ()) -> DataFrame:
    """Aggregation-based top-k: keep the k (dist, tie)-smallest rows per
    partition_key WITHOUT the row_number window's global sort.

    A row_number window shuffles every pair row then SORTS entire
    partitions just to keep k rows per key — measured as the worst-scaling
    stage of the conflation ladder (0.34 efficiency at 4× cores on an
    earlier 32-core host, BASELINE.md §5). This formulation instead
    hash-aggregates:

        groupBy(key).agg(slice(array_sort(collect_list(struct(dist, tie))), 1, k))

    → ObjectHashAggregate with map-side partial aggregation (each map task
    pre-collects per-key lists, so the shuffle carries one row per distinct
    key per map partition), per-group array_sort over the handful of
    candidates (avg ≈3 in the conflation workload), no SortExec anywhere.
    Rows are exactly the k (dist, tie)-smallest because (dist, tie) is a
    total order (tie = unique id) and struct comparison is lexicographic.

    const_cols are columns functionally determined by partition_key (the
    probe point's lon/lat/caption) — carried via first() instead of bloating
    the sorted struct. payload_cols are candidate-side columns that vary per
    pair (s_caption, version) — they ride INSIDE the sorted struct after the
    two sort keys; (dist, tie) is already a total order so they never affect
    comparison, but they must be orderable types (no maps — re-join those by
    tie_col post-cap instead).

    Each key's buffer holds all its candidates before the slice: right
    when per-key candidate counts are bounded (threshold-refined pairs)."""
    sort_struct = F.struct(
        F.col(dist_col), F.col(tie_col), *[F.col(c) for c in payload_cols]
    )
    agg = pairs.groupBy(partition_key).agg(
        F.slice(F.array_sort(F.collect_list(sort_struct)), 1, k).alias("__top"),
        *[F.first(c).alias(c) for c in const_cols],
    )
    return agg.select(
        partition_key, *const_cols, F.explode("__top").alias("__t")
    ).select(
        partition_key, *const_cols,
        *[
            F.col(f"__t.{c}").alias(c)
            for c in (dist_col, tie_col, *payload_cols)
        ],
    )


def best_candidate(pairs: DataFrame, partition_key: str, hits_col: str = "hits",
                   dist_col: str = "dist_m", tie_col: str = "feature_id") -> DataFrame:
    """Pick one winner per primary: max hits, then min distance, then id
    (J3; sort keys mirror hitsSort/distSort at conflator.py:72-84).

    min_by(payload_struct, ordering_struct) over one shuffle — exact,
    because the ordering (-hits, dist, tie) is a total order (tie is a
    unique id). The struct aggregation buffer disqualifies HashAggregate,
    so the plan is SortAggregate (sorts each shuffle partition by the
    group key). All non-key columns must be orderable (no maps) — re-join
    map-typed payloads onto the winners afterwards (N rows, not k·N)."""
    out_cols = [c for c in pairs.columns if c != partition_key]
    ordering = F.struct(
        (-F.col(hits_col)).alias("__nh"),
        F.col(dist_col).alias("__d"),
        F.col(tie_col).alias("__t"),
    )
    return (
        pairs.groupBy(partition_key)
        .agg(F.min_by(F.struct(*[F.col(c) for c in out_cols]),
                      ordering).alias("__b"))
        .select(partition_key,
                *[F.col(f"__b.{c}").alias(c) for c in out_cols])
    )


def knn_unbounded(primary: DataFrame, secondary: DataFrame, k: int,
                  initial_radius_m: float = 100.0, max_expansions: int = 8,
                  p_key: str = "image_id", s_key: str = "feature_id",
                  growth: float = 4.0) -> DataFrame:
    """kNN with no distance bound: cell-ring EXPANSION (north rule).

    Round i joins the still-unsatisfied primaries at radius r·growth^i —
    each round is a fresh (coarser) cell grid, so far-apart neighbors are
    found without ever widening the join for primaries already satisfied.
    Unsatisfied set shrinks geometrically; ≤ max_expansions rounds. A found
    neighbor at radius r is only final once the round radius guarantees no
    closer unseen candidate exists — guaranteed because round i's candidate
    superset contains every feature within r_i and we keep global top-k
    over all rounds' pairs.

    primary: (p_key, lon, lat); secondary: (s_key, xs, ys) points.
    Returns (p_key, s_key, rank, dist_m).

    Lineage control (round-2 verdict fix): the naive loop rebuilt round i's
    plan ON TOP of rounds 1..i-1's joins — O(rounds²) rescans — and paid a
    take(1) action per round. Now each round's pairs are persisted and
    materialized ONCE (by the have_k count that the loop needs anyway), the
    unsatisfied count is tracked arithmetically (n_rem -= satisfied; no
    extra action), remaining is persisted per round with the previous
    round's cache released once its successor is materialized, and the
    final union reads the cached pairs (InMemoryTableScan — pinned by
    test_round3_fixes). Round caches stay referenced by the returned plan;
    the ContextCleaner frees them when the caller drops it.
    """
    from ..functions import geo
    from ..functions.cells import CellGrid
    from . import cell_join

    remaining = primary
    round_pairs: list[DataFrame] = []
    rem_handles: list[DataFrame] = []  # persisted remaining DFs we created
    radius = initial_radius_m
    n_rem = primary.count()
    for _ in range(max_expansions):
        if n_rem == 0:
            break
        grid = CellGrid.for_radius(radius, max_abs_lat=75.0)
        pairs = cell_join.cell_pairs(
            remaining, secondary,
            grid.ring1(grid.encode(F.col("lon"), F.col("lat"))),
            grid.encode(F.element_at("xs", 1), F.element_at("ys", 1)),
        ).withColumn(
            "dist",
            geo.haversine_m(
                F.col("lon"), F.col("lat"),
                F.element_at("xs", 1), F.element_at("ys", 1),
            ),
        ).filter(F.col("dist") <= F.lit(radius)).select(p_key, s_key, "dist")
        pairs = pairs.persist()
        round_pairs.append(pairs)
        have_k = (
            pairs.groupBy(p_key).count().filter(F.col("count") >= k).select(p_key)
        )
        n_sat = have_k.count()  # the ONE action per round: materializes this
        # round's pairs cache and (en route) this round's remaining cache
        n_rem -= n_sat
        # remaining (round-i input) is now materialized, so the cache it was
        # derived from (round i-1's remaining) can be released — no future
        # recompute reaches past a materialized MEMORY_AND_DISK cache
        while len(rem_handles) > 1:
            rem_handles.pop(0).unpersist()
        if n_rem == 0:
            break
        remaining = remaining.join(have_k, p_key, "left_anti").persist()
        rem_handles.append(remaining)
        radius *= growth
    # the returned plan references only the pairs caches; remaining caches
    # served their purpose once the last round's pairs materialized
    for h in rem_handles:
        h.unpersist()
    if not round_pairs:
        return primary.sparkSession.createDataFrame(
            [], f"{p_key} string, {s_key} long, rank int, dist_m double"
        )
    all_pairs = round_pairs[0]
    for pr in round_pairs[1:]:
        all_pairs = all_pairs.unionByName(pr)
    deduped = all_pairs.dropDuplicates([p_key, s_key])
    w = Window.partitionBy(p_key).orderBy(F.asc("dist"), F.asc(s_key))
    return (
        deduped.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(p_key, s_key, F.col("rank").cast("int").alias("rank"),
                F.round("dist", 3).alias("dist_m"))
    )
