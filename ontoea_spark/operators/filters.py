"""Projection/filter operators P1-P7 (SURVEY.md §2.2) + supervision joins
J2-J4 (§2.4), expressed as semi/anti joins so Catalyst plans them as
broadcast joins when the link side is small.

Reference semantics:
* P1 ``parse_triples`` (kg.py:1-7): distinct subjects/objects/predicates.
* P6 ``remove_unlinked_triples`` (kgs.py:643-654): keep triples whose BOTH
  endpoints appear in the link set.
* P7 ``remove_no_triples_link`` (kgs.py:623-640): keep links whose both
  sides appear somewhere in their KG's triples; reference iterates P6+P7
  to a fixpoint (kgs.py:598-615).
* J2 ``generate_sup_relation_triples`` (read.py:166-181): for every link
  (e1,e2) substitute the aligned entity into the partner KG's adjacency.
* J4 ``generate_sup_cv_links`` (read.py:184-200): propagate class
  membership across alignment links where one side is missing/different.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _gate_small(df: DataFrame, broadcast_threshold: int | None) -> bool:
    """Decide a broadcast gate by counting the (lazy) frame. Link/entity
    sets GROW WITH THE CORPUS — a hard broadcast hint on them is an OOM
    at crawl scale, so every hint in this module goes through this gate
    (the dictionary-encode pattern, operators/dictionary.py). One count
    job, no checkpoint pin: the frame stays lazy so downstream plans
    fuse exactly as they did before the gate existed."""
    from ontoea_spark.operators.dictionary import BROADCAST_ROW_THRESHOLD

    if broadcast_threshold is None:
        broadcast_threshold = BROADCAST_ROW_THRESHOLD
    return df.count() <= broadcast_threshold


def _maybe_broadcast(df: DataFrame, small: bool) -> DataFrame:
    return F.broadcast(df) if small else df


def parse_entities(triples: DataFrame) -> DataFrame:
    """P1: distinct entities (subjects ∪ objects). DataFrame[entity]."""
    return (
        triples.select(F.col("s").alias("entity"))
        .unionAll(triples.select(F.col("o").alias("entity")))
        .distinct()
    )


def linked_entity_set(links: DataFrame, side: str) -> DataFrame:
    """Entities appearing on one side of the link table. side in {e1,e2}."""
    return links.select(F.col(side).alias("entity")).distinct()


def remove_unlinked_triples(
    triples: DataFrame,
    linked: DataFrame,
    broadcast_threshold: int | None = None,
    small: bool | None = None,
) -> DataFrame:
    """P6: keep triples with BOTH endpoints in ``linked`` (col: entity).
    Two semi-joins; the linked set is broadcast only while it fits the
    row-count gate (it is O(|links|) — corpus-growing). Callers that
    already know the verdict (the fixpoint loop) pass ``small`` to skip
    the count."""
    if small is None:
        small = _gate_small(linked, broadcast_threshold)
    le = _maybe_broadcast(linked, small)
    return triples.join(
        le.withColumnRenamed("entity", "s"), "s", "left_semi"
    ).join(le.withColumnRenamed("entity", "o"), "o", "left_semi").select(
        "s", "p", "o"
    )


def remove_no_triples_link(
    links: DataFrame,
    triples1: DataFrame,
    triples2: DataFrame,
    broadcast_threshold: int | None = None,
    small1: bool | None = None,
    small2: bool | None = None,
) -> DataFrame:
    """P7: keep links whose e1 occurs in KG1's triples and e2 in KG2's.
    The entity sets are O(all corpus entities) — the most
    broadcast-hostile frames in this module — so their hints are
    row-count-gated; past the gate AQE plans the semi-joins."""
    ents1 = parse_entities(triples1)
    ents2 = parse_entities(triples2)
    if small1 is None:
        small1 = _gate_small(ents1, broadcast_threshold)
    if small2 is None:
        small2 = _gate_small(ents2, broadcast_threshold)
    return links.join(
        _maybe_broadcast(ents1.withColumnRenamed("entity", "e1"), small1),
        "e1",
        "left_semi",
    ).join(
        _maybe_broadcast(ents2.withColumnRenamed("entity", "e2"), small2),
        "e2",
        "left_semi",
    )


def links_triples_fixpoint(
    links: DataFrame,
    triples1: DataFrame,
    triples2: DataFrame,
    max_iter: int = 3,
    broadcast_threshold: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """P6+P7 iterated (kgs.py:598-615). Bounded driver loop; each pass is a
    handful of semi-joins, and intermediate frames are the loop-carried
    state. For unbounded fixpoints at scale, checkpoint every few passes
    to cut lineage (the reference's loop converges in 1-2 passes on real
    data — links and triples only shrink).

    Broadcast gates are decided ONCE on the initial sets — three count
    jobs for the whole loop, not per call. The sets only shrink under
    the fixpoint, so a small verdict stays valid; a large verdict just
    skips the hint and AQE re-plans at runtime if a later pass shrinks
    a side under its thresholds. In-loop plans stay lazily fused
    (nothing is checkpointed or pinned; bounded max_iter keeps lineage
    shallow)."""
    if broadcast_threshold is None:
        from ontoea_spark.operators.dictionary import BROADCAST_ROW_THRESHOLD

        broadcast_threshold = BROADCAST_ROW_THRESHOLD
    # all three gate counts in ONE job: tag each set, count per tag
    # (three separate count() actions each pay a full job round-trip;
    # the union scans the same inputs once and returns 3 rows)
    tagged = (
        parse_entities(triples1).select(F.lit("e1").alias("t"))
        .unionAll(parse_entities(triples2).select(F.lit("e2").alias("t")))
        .unionAll(links.select(F.lit("lk").alias("t")))
    )
    cnts = {r["t"]: r["n"] for r in tagged.groupBy("t").agg(F.count("*").alias("n")).collect()}
    s1 = cnts.get("e1", 0) <= broadcast_threshold
    s2 = cnts.get("e2", 0) <= broadcast_threshold
    sl = cnts.get("lk", 0) <= broadcast_threshold  # bounds |l1| and |l2|
    for _ in range(max_iter):
        links = remove_no_triples_link(
            links, triples1, triples2, small1=s1, small2=s2
        )
        # truncate the loop-carried plan (lazy — materializes inside the
        # consuming jobs): each broadcast BUILD below otherwise re-runs
        # the whole semi-join chain accumulated so far, so build work
        # grows quadratically with iterations
        links = links.localCheckpoint(eager=False)
        l1 = linked_entity_set(links, "e1")
        l2 = linked_entity_set(links, "e2")
        triples1 = remove_unlinked_triples(triples1, l1, small=sl).localCheckpoint(
            eager=False
        )
        triples2 = remove_unlinked_triples(triples2, l2, small=sl).localCheckpoint(
            eager=False
        )
    return links, triples1, triples2


def sup_relation_triples(links: DataFrame, triples: DataFrame, swap_from: str = "e1") -> DataFrame:
    """J2 for one KG: substitute the aligned partner entity into this KG's
    triples at head and tail positions (read.py:166-181).

    ``swap_from``: which link column matches this KG's entities; the other
    column is substituted in.
    """
    other = "e2" if swap_from == "e1" else "e1"
    lk_df = links.select(swap_from, other)
    lk = _maybe_broadcast(lk_df, _gate_small(lk_df, None))
    head = (
        triples.join(lk, triples["s"] == lk[swap_from])
        .select(F.col(other).alias("s"), "p", "o")
    )
    tail = (
        triples.join(lk, triples["o"] == lk[swap_from])
        .select("s", "p", F.col(other).alias("o"))
    )
    return head.unionByName(tail).dropDuplicates()


def sup_cv_links(align_links: DataFrame, cv_links: DataFrame) -> DataFrame:
    """J4 (read.py:184-200): for each alignment link, propagate each side's
    class to the other. cv_links: DataFrame[entity, cls] (≤1 class per
    entity). Semantics:

    * both sides same class (or both missing) -> nothing;
    * one side missing -> the missing side inherits the partner's class;
    * both present but different -> BOTH swapped pairs are emitted.

    Returns DataFrame[entity, cls] of NEW links, deduplicated.
    """
    cv = _maybe_broadcast(cv_links, _gate_small(cv_links, None))
    j = (
        align_links.join(
            cv.select(F.col("entity").alias("e1"), F.col("cls").alias("c1")),
            "e1",
            "left",
        ).join(
            cv.select(F.col("entity").alias("e2"), F.col("cls").alias("c2")),
            "e2",
            "left",
        )
    )
    # reference: skip when onto1 == onto2 (including both-missing); the
    # null-safe inequality expresses exactly that in 3-valued logic
    diff = j.filter(~F.col("c1").eqNullSafe(F.col("c2")))
    to_e1 = diff.filter(F.col("c2").isNotNull()).select(
        F.col("e1").alias("entity"), F.col("c2").alias("cls")
    )
    to_e2 = diff.filter(F.col("c1").isNotNull()).select(
        F.col("e2").alias("entity"), F.col("c1").alias("cls")
    )
    return to_e1.unionByName(to_e2).dropDuplicates()
