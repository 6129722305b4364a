"""Alignment ranking metrics (SURVEY.md §2.12 A7/V2).

Reference semantics (alignment.py:149-171 ``calculate_rank``): for each
left entity i with gold partner gold(i), rank = 1 + position of gold in
the descending argsort of row i. NumPy argsort is stable, so ties resolve
by candidate index ascending; we reproduce that exactly:

    rank(i) = 1 + #{j : sim(i,j) > sim(i,gold)}
                + #{j < gold : sim(i,j) = sim(i,gold)}

Metrics: Hits@k = mean(rank <= k), MR = mean(rank), MRR = mean(1/rank);
reference reports hits as round(pct, 3) — we return fractions and let
callers scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ranks_vs_gold(scores: DataFrame, gold: DataFrame) -> DataFrame:
    """scores: DataFrame[lid, rid, sim] (full rows or candidate supersets
    that are guaranteed to contain the gold pair and everything scored
    above it). gold: DataFrame[lid, gold_rid].

    Returns DataFrame[lid, rank] (rank >= 1, argsort-stable tie-break).
    """
    # NOTE (r6): a keyed-window gsim (single pass, no self-join) was
    # prototyped and measured SLOWER here — the window's per-partition
    # sort+buffer over the full score table costs more than the two
    # parallel branch recomputes; this operator is the eval-scale
    # protocol (the candidates variant below is the 100x path).
    # No hard broadcast hint on gold: it is test-split sized (grows with
    # the corpus), and its projections carry usable size estimates, so
    # the planner/AQE broadcasts it exactly while it actually fits
    # (plan-asserted in tests/test_plans.py) instead of being forced.
    g = gold
    with_gold = scores.join(g, "lid")
    gold_sim = (
        with_gold.filter(F.col("rid") == F.col("gold_rid"))
        .select("lid", F.col("sim").alias("gsim"))
    )
    j = with_gold.join(gold_sim, "lid")
    return (
        j.groupBy("lid")
        .agg(
            (
                F.lit(1)
                + F.sum((F.col("sim") > F.col("gsim")).cast("long"))
                + F.sum(
                    (
                        (F.col("sim") == F.col("gsim"))
                        & (F.col("rid") < F.col("gold_rid"))
                    ).cast("long")
                )
            ).alias("rank")
        )
        .select("lid", F.col("rank").cast("long").alias("rank"))
    )


def ranks_vs_gold_candidates(
    cands: DataFrame, gold: DataFrame, k_cand: int
) -> DataFrame:
    """A7 over a top-k candidate table — the 100x-scale evaluation
    protocol (the all-pairs ranks_vs_gold materializes n1 x n2 rows; this
    consumes blocked_topk_join(k=k_cand)'s |left| x k_cand rows).

    cands: DataFrame[lid, rid, sim, rk] where rk is the global rank per
    lid in (sim desc, rid asc) order over whatever score the caller
    ranked by. gold: DataFrame[lid, gold_rid] with one row per evaluated
    lid.

    Gold-rank convention (documented, matches reference calculate_rank
    truncation semantics, alignment.py:149-171): if the gold partner is
    among the candidates its candidate rank IS its full-table rank;
    otherwise rank := k_cand + 1 — the tightest provable lower bound.
    The exactness of Hits@k (k <= k_cand) then depends on how rk was
    produced: with RAW blocked_topk_join scores the candidates are the
    true top k_cand of the full right side, so rk is the exact global
    rank and Hits@k is EXACT, MR a lower bound, MRR an upper bound.
    When the caller re-ranks the pool by a FUSED score first
    (evaluate_candidates), exactness additionally requires that no
    out-of-pool rid could outrank a pooled one under the fused score —
    guaranteed only when the pool's raw-sim margin at k_cand exceeds the
    fusion term's range (2*gamma for the bounded type score); otherwise
    Hits@k is exact in practice but an upper bound in the worst case.
    Both regimes are asserted against the all-pairs path at test scale
    (tests/test_alignment.py).
    """
    hit = cands.select(
        F.col("lid"), F.col("rid").alias("gold_rid"), F.col("rk")
    )
    return (
        gold.join(hit, ["lid", "gold_rid"], "left")
        .select(
            "lid",
            F.coalesce(F.col("rk"), F.lit(k_cand + 1))
            .cast("long")
            .alias("rank"),
        )
    )


def rank_metrics(
    ranks: DataFrame, top_k: tuple[int, ...] = (1, 5, 10, 50)
) -> DataFrame:
    """One-row metrics frame: hits_{k} (fraction), mr, mrr (rounded 6dp)."""
    aggs = [
        F.round(F.avg((F.col("rank") <= kk).cast("double")), 6).alias(f"hits{kk}")
        for kk in top_k
    ]
    aggs += [
        F.round(F.avg(F.col("rank").cast("double")), 6).alias("mr"),
        F.round(F.avg(F.lit(1.0) / F.col("rank")), 6).alias("mrr"),
    ]
    return ranks.agg(*aggs)

