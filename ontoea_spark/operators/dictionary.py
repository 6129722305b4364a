"""Deterministic frequency-ordered dictionary encoding (SURVEY.md §2.3).

Reproduces the reference's id-assignment semantics relationally:

* D1 ``sort_elements`` (read.py:14-26): count each element's occurrences
  across the triple positions it may fill, order by (freq desc, uri desc)
  — the tie-break makes ids deterministic.
* D2 ``generate_mapping_id`` (read.py:64-96): interleave the two ranked
  KGs — KG1 rank-i -> 2i, KG2 rank-i -> 2i+1 for i < min(n1, n2); the
  longer KG's tail continues sequentially at 2*min(n1, n2).
* D3 ``generate_mapping_id_oneKG`` (read.py:99-117): rank -> id.
* D5-D7 ``uris_*_2ids`` (read.py:120-163): dictionary joins; the entity
  dictionary is broadcast (per-KG vocab ≪ triples at web scale: the
  dictionary is |entities|, triples are |mentions|).

Scale notes: the only shuffles are the groupBy count and the global
row_number. The global rank is a single-partition window by necessity
(ids are globally dense); at 100 TB the dictionary itself is still only
|distinct entities| rows after the distributed count, and if that
outgrows one partition the two-phase variant (partition ranks + offset
by cumulative partition counts) drops in without changing the contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Row-count ceiling for the dictionary side of an encode join to be
#: broadcast.  The entity dictionary is corpus-derived vocab — it grows
#: with the crawl (10^8-10^9 distinct URIs at 100 TB), and ``F.broadcast``
#: is a hard hint Spark obeys regardless of size, so an un-gated hint
#: OOMs driver and executors at scale.  5M rows x ~40 B/URI ≈ 200 MB,
#: comfortably inside a 4 GB driver; same default as
#: ``pipeline/incremental.py`` uses for its delta-merge gate.
BROADCAST_ROW_THRESHOLD = 5_000_000


def _gated_broadcast(df: DataFrame, small: bool) -> DataFrame:
    """Apply the broadcast hint only when the caller measured the frame
    small; otherwise return the frame unhinted and let AQE pick
    sort-merge / shuffled-hash (or the bucketed-table path via
    ``sources.tables.write_bucketed`` for repeated encode joins)."""
    return F.broadcast(df) if small else df


def anti_join_keep_small(
    small: DataFrame,
    big: DataFrame,
    key: list[str],
    broadcast_threshold: int = BROADCAST_ROW_THRESHOLD,
) -> DataFrame:
    """``small LEFT ANTI big`` without ever shuffling ``big``.

    A LEFT ANTI join can only broadcast its build (right) side, so the
    naive form shuffles the big table every time. While ``small`` fits
    the gate this runs the semi+anti broadcast pair instead: big LEFT
    SEMI broadcast(small) — one scan of ``big`` emitting at most
    |small| matched keys — then small LEFT ANTI broadcast(matched).
    Past the gate it degrades to the shuffled anti-join. The one shared
    implementation of the pattern used by incremental dedup, dictionary
    extension, negative sampling, and incremental canonicalization.

    ``small`` is materialized here (the gate needs its count and both
    joins reuse it — lazy checkpoint, so the count job is also the
    materialization); returns rows of ``small`` (all its columns)
    whose ``key`` is absent from ``big``.
    """
    small = small.localCheckpoint(eager=False)
    if small.count() <= broadcast_threshold:
        matched = big.select(*key).join(
            F.broadcast(small.select(*key)), key, "left_semi"
        )
        return small.join(F.broadcast(matched), key, "left_anti")
    return small.join(big.select(*key), key, "left_anti")


def element_frequencies(
    triples: DataFrame, roles: tuple[str, ...] = ("s", "o")
) -> DataFrame:
    """D1 counting half: occurrences of each element over the given triple
    positions. roles ('s','o') counts entities, ('p',) counts relations.

    Returns DataFrame[elem: string, freq: bigint].
    """
    parts = [triples.select(F.col(r).alias("elem")) for r in roles]
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionAll(p)
    return unioned.groupBy("elem").agg(F.count("*").alias("freq"))


def ranked_elements(
    triples: DataFrame,
    roles: tuple[str, ...] = ("s", "o"),
    range_partitions: int = 32,
) -> DataFrame:
    """D1: rank elements by (freq desc, elem desc); rank is 0-based.

    Scalable exact global rank — two-phase instead of a single-partition
    window (which would funnel the whole dictionary through one task):

      1. ``repartitionByRange`` on the sort key: partition i holds keys
         strictly above partition i+1 (keys are unique: elem is distinct);
      2. ``row_number`` *within* each range partition (parallel);
      3. global rank = local rank + cumulative count of earlier
         partitions (a window over ``range_partitions`` rows — trivial).

    The rank values are independent of where the sampled range bounds
    land; the partitioned frame is cached so the pid column is consistent
    across the two branches that consume it.

    Returns DataFrame[elem, freq, rank].
    """
    return _rank_freqs(element_frequencies(triples, roles), range_partitions)


def _rank_freqs(freqs: DataFrame, range_partitions: int = 32) -> DataFrame:
    """Two-phase exact rank over a (elem, freq) frame (see
    :func:`ranked_elements` for the strategy)."""
    part = freqs.repartitionByRange(
        range_partitions, F.desc("freq"), F.desc("elem")
    ).withColumn("pid", F.spark_partition_id())
    part = part.cache()
    wl = Window.partitionBy("pid").orderBy(F.desc("freq"), F.desc("elem"))
    local = part.withColumn("lrank", F.row_number().over(wl))
    counts = part.groupBy("pid").agg(F.count("*").alias("cnt"))
    # counts has exactly range_partitions rows (one per pid), so a
    # single-partition window is genuinely fine; partition on a
    # column-derived constant (pmod(pid,1)=0) because a bare lit(0) gets
    # constant-folded to an empty spec and re-triggers the WindowExec
    # no-partition warning.
    woff = (
        Window.partitionBy(F.pmod(F.col("pid"), F.lit(1)))
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("cnt").over(woff), F.lit(0))
    ).select("pid", "off")
    return local.join(F.broadcast(offsets), "pid").select(
        "elem",
        "freq",
        (F.col("off") + F.col("lrank") - 1).cast("long").alias("rank"),
    )


def _interleave(r1: DataFrame, r2: DataFrame) -> DataFrame:
    """Interleave two ranked frames (read.py:72-83 arithmetic): KG1
    rank-i -> 2i, KG2 rank-i -> 2i+1 for i < min(n1, n2); tails continue
    sequentially at 2*min. Input frames: (elem, freq, rank); output adds
    kg and id."""
    a = r1.withColumn("kg", F.lit(1).cast("long"))
    b = r2.withColumn("kg", F.lit(2).cast("long"))
    n1 = a.agg(F.count("*").alias("n_other")).withColumn("kg", F.lit(2).cast("long"))
    n2 = b.agg(F.count("*").alias("n_other")).withColumn("kg", F.lit(1).cast("long"))
    joined = a.unionByName(b).join(F.broadcast(n1.unionByName(n2)), "kg")
    ident = F.when(
        F.col("rank") < F.col("n_other"),
        F.lit(2) * F.col("rank") + (F.col("kg") - F.lit(1)),
    ).otherwise(F.lit(2) * F.col("n_other") + (F.col("rank") - F.col("n_other")))
    return joined.select(
        "kg", "elem", "freq", "rank", ident.cast("long").alias("id")
    )


def sharing_ids(
    triples1: DataFrame,
    triples2: DataFrame,
    train_links: DataFrame,
    roles: tuple[str, ...] = ("s", "o"),
    broadcast_threshold: int = BROADCAST_ROW_THRESHOLD,
) -> DataFrame:
    """D4 ``generate_sharing_id`` ordered path (read.py:29-61): aligned
    train-link pairs share one id — KG2's linked elements are removed
    before ranking/interleaving, then each linked e2 inherits its e1
    partner's id.

    train_links: DataFrame[e1, e2]. Returns (kg, elem, id); ``rank`` and
    ``freq`` only cover the elements that went through the interleave
    (linked e2 rows carry NULLs there).

    The link set grows with the corpus, so its broadcast hints are
    row-count-gated; the KG1 id lookup is semi-restricted to linked e1
    rows FIRST (O(|links|), not O(|KG1 vocab|)) and gated by the same
    count — broadcasting the full interleaved dictionary would OOM at
    crawl scale.
    """
    links_m = train_links.localCheckpoint(eager=False)
    lsmall = links_m.count() <= broadcast_threshold
    r1 = ranked_elements(triples1, roles)
    f2 = element_frequencies(triples2, roles)
    linked2 = links_m.select(F.col("e2").alias("elem")).distinct()
    f2_unlinked = f2.join(_gated_broadcast(linked2, lsmall), "elem", "left_anti")
    r2 = _rank_freqs(f2_unlinked)
    base = _interleave(r1, r2)
    e1s = links_m.select("e1").distinct()
    ids1 = (
        base.filter("kg = 1")
        .select(F.col("elem").alias("e1"), F.col("id").alias("shared_id"))
        .join(_gated_broadcast(e1s, lsmall), "e1", "left_semi")
    )
    linked_rows = (
        links_m.join(_gated_broadcast(ids1, lsmall), "e1")
        .select(
            F.lit(2).cast("long").alias("kg"),
            F.col("e2").alias("elem"),
            F.lit(None).cast("long").alias("freq"),
            F.lit(None).cast("long").alias("rank"),
            F.col("shared_id").alias("id"),
        )
    )
    return base.unionByName(linked_rows)


def interleaved_ids(
    triples1: DataFrame,
    triples2: DataFrame,
    roles: tuple[str, ...] = ("s", "o"),
) -> DataFrame:
    """D2: interleaved two-KG id assignment (read.py:72-83 semantics).

    Returns DataFrame[kg: bigint (1|2), elem: string, freq, rank, id].
    Stays lazy: the n1/n2 scalars join in via a broadcast 1-row aggregate
    instead of driver-side count() actions.
    """
    return _interleave(
        ranked_elements(triples1, roles), ranked_elements(triples2, roles)
    )


def combined_dictionary_frame(
    all_triples: DataFrame,
    kg_expr,
    range_partitions: int = 32,
) -> DataFrame:
    """D1+D2 for BOTH dictionaries of BOTH KGs in one pass — the lazy
    combined frame DataFrame[grp, kg, elem, freq, rank, id].

    ``interleaved_ids`` called separately for entities and relations
    costs four frequency aggregations + four range shuffles, each
    re-reading the triple stream. At 100 TB the triple stream is the
    expensive thing to touch; this builder tags every occurrence with
    (grp, kg) — grp 'ent' from the s/o positions, 'rel' from p — and
    runs ONE groupBy count + ONE range repartition + grouped two-phase
    rank for everything. Output values are identical to the per-call
    operator (asserted by tests/test_dictionary_combined.py).

    ``kg_expr``: Column mapping a triple row to its KG (1 or 2). An
    intermediate frame is cache()d (two consumers inside the rank);
    materialize the RESULT before fanning out to broadcast joins —
    :func:`two_kg_dictionaries` does exactly that, and the checkpointed
    pipeline snapshots it to parquet instead.
    """
    base = all_triples.select(kg_expr.cast("long").alias("kg"), "s", "p", "o")
    occs = (
        base.select("kg", F.col("s").alias("elem"))
        .unionAll(base.select("kg", F.col("o").alias("elem")))
        .withColumn("grp", F.lit("ent"))
        .unionByName(
            base.select("kg", F.col("p").alias("elem")).withColumn(
                "grp", F.lit("rel")
            )
        )
    )
    freqs = occs.groupBy("grp", "kg", "elem").agg(F.count("*").alias("freq"))
    # grouped two-phase exact rank: the group cols lead the range key, so
    # within each (grp, kg) the partition order still carries the global
    # sort — same offset argument as _rank_freqs, one shuffle for all four
    part = freqs.repartitionByRange(
        range_partitions, F.col("grp"), F.col("kg"), F.desc("freq"), F.desc("elem")
    ).withColumn("pid", F.spark_partition_id())
    part = part.cache()
    wl = Window.partitionBy("grp", "kg", "pid").orderBy(
        F.desc("freq"), F.desc("elem")
    )
    local = part.withColumn("lrank", F.row_number().over(wl))
    counts = part.groupBy("grp", "kg", "pid").agg(F.count("*").alias("cnt"))
    woff = (
        Window.partitionBy("grp", "kg")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("cnt").over(woff), F.lit(0))
    ).select("grp", "kg", "pid", "off")
    ranked = local.join(F.broadcast(offsets), ["grp", "kg", "pid"]).select(
        "grp",
        "kg",
        "elem",
        "freq",
        (F.col("off") + F.col("lrank") - 1).cast("long").alias("rank"),
    )
    # interleave arithmetic per grp (read.py:72-83): n_other = the OTHER
    # KG's dictionary size within the same grp
    sizes = ranked.groupBy("grp", "kg").agg(F.count("*").alias("n"))
    n_other = sizes.select(
        "grp",
        F.when(F.col("kg") == 1, F.lit(2)).otherwise(F.lit(1)).cast("long").alias("kg"),
        F.col("n").alias("n_other"),
    )
    joined = ranked.join(F.broadcast(n_other), ["grp", "kg"], "left").withColumn(
        "n_other", F.coalesce(F.col("n_other"), F.lit(0))
    )
    ident = F.when(
        F.col("rank") < F.col("n_other"),
        F.lit(2) * F.col("rank") + (F.col("kg") - F.lit(1)),
    ).otherwise(F.lit(2) * F.col("n_other") + (F.col("rank") - F.col("n_other")))
    return joined.select(
        "grp", "kg", "elem", "freq", "rank", ident.cast("long").alias("id")
    )


def two_kg_dictionaries(
    all_triples: DataFrame,
    kg_expr,
    range_partitions: int = 32,
    with_sizes: bool = False,
) -> tuple:
    """:func:`combined_dictionary_frame`, materialized once and split.

    The localCheckpoint truncates lineage so downstream every
    broadcast-encode join reads materialized dictionary rows; without it
    each broadcast build re-runs the whole grouped rank (the round-1
    plan-subtree-duplication lesson). The frame is |vocab| rows —
    exactly the thing you want materialized.

    Returns (ent_ids, rel_ids), each DataFrame[kg, elem, freq, rank, id].
    With ``with_sizes=True`` additionally returns (n_ent, n_rel) row
    counts, computed in ONE aggregate job over the materialized frame —
    callers feed them to the encode joins' broadcast gates instead of
    paying one count job per dictionary side per encode call.
    """
    # with_sizes: lazy checkpoint — the sizes aggregate right below is
    # the materializing job. Without sizes the eager materialization
    # stays: callers fan straight out into broadcast builds.
    out = combined_dictionary_frame(
        all_triples, kg_expr, range_partitions
    ).localCheckpoint(eager=not with_sizes)
    cols = ["kg", "elem", "freq", "rank", "id"]
    ent = out.filter("grp = 'ent'").select(*cols)
    rel = out.filter("grp = 'rel'").select(*cols)
    if with_sizes:
        sizes = {
            r["grp"]: r["n"]
            for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()
        }
        return ent, rel, sizes.get("ent", 0), sizes.get("rel", 0)
    return ent, rel


def encode_triples(
    triples: DataFrame,
    ent_ids: DataFrame,
    rel_ids: DataFrame,
    broadcast_threshold: int = BROADCAST_ROW_THRESHOLD,
    ent_small: bool | None = None,
    rel_small: bool | None = None,
) -> DataFrame:
    """D5: (s,p,o) -> (s_id, p_id, o_id) via three dictionary joins.
    Inner-join semantics: rows whose element is missing from the
    dictionary drop silently (reference read.py:141-149 asserts full
    coverage instead; use :func:`encode_coverage` to assert/meter).

    The dictionary sides are broadcast only while they measure at or
    under ``broadcast_threshold`` rows — the pipeline's dictionaries
    come out of :func:`two_kg_dictionaries` already localCheckpoint-
    materialized, so the count here is a cheap scan of materialized
    rows, and past the threshold the joins degrade to AQE-planned
    shuffled joins instead of an OOM-guaranteed forced broadcast
    (same gate as ``pipeline/incremental.py``'s delta merge). Callers
    that already measured the dictionaries (``two_kg_dictionaries
    with_sizes=True``) pass ``ent_small``/``rel_small`` to skip the
    count jobs.

    Returns DataFrame[s_id, p_id, o_id] (bigint).
    """
    e = ent_ids.select("elem", "id")
    r = rel_ids.select("elem", "id")
    if ent_small is None:
        ent_small = e.count() <= broadcast_threshold
    if rel_small is None:
        rel_small = r.count() <= broadcast_threshold
    e_small = ent_small
    r_small = rel_small
    return (
        triples.join(
            _gated_broadcast(
                e.withColumnRenamed("elem", "s").withColumnRenamed("id", "s_id"),
                e_small,
            ),
            "s",
        )
        .join(
            _gated_broadcast(
                r.withColumnRenamed("elem", "p").withColumnRenamed("id", "p_id"),
                r_small,
            ),
            "p",
        )
        .join(
            _gated_broadcast(
                e.withColumnRenamed("elem", "o").withColumnRenamed("id", "o_id"),
                e_small,
            ),
            "o",
        )
        .select("s_id", "p_id", "o_id")
    )


def encode_triples_two_kg(
    triples: DataFrame,
    ent_ids: DataFrame,
    rel_ids: DataFrame,
    kg_col: str = "kgn",
    broadcast_threshold: int = BROADCAST_ROW_THRESHOLD,
    ent_small: bool | None = None,
    rel_small: bool | None = None,
) -> DataFrame:
    """D5 for BOTH KGs in one pass: triples tagged with their KG number
    (``kg_col``, valued 1|2) join the full two-KG dictionaries with the
    kg tag in the join key — three gated-broadcast joins total instead
    of six (two per-KG :func:`encode_triples` calls re-scan the triple
    stream and build every dictionary broadcast twice). Row-identical to
    the per-KG union: joining on (kg, elem) restricted to a triple's own
    kg is exactly the per-KG dictionary join.

    Returns DataFrame[s_id, p_id, o_id, kg] (bigint).
    """
    e = ent_ids.select("kg", "elem", "id")
    r = rel_ids.select("kg", "elem", "id")
    if ent_small is None:
        ent_small = e.count() <= broadcast_threshold
    if rel_small is None:
        rel_small = r.count() <= broadcast_threshold
    t = triples.select(F.col(kg_col).cast("long").alias("kg"), "s", "p", "o")
    return (
        t.join(
            _gated_broadcast(
                e.withColumnRenamed("elem", "s").withColumnRenamed("id", "s_id"),
                ent_small,
            ),
            ["kg", "s"],
        )
        .join(
            _gated_broadcast(
                r.withColumnRenamed("elem", "p").withColumnRenamed("id", "p_id"),
                rel_small,
            ),
            ["kg", "p"],
        )
        .join(
            _gated_broadcast(
                e.withColumnRenamed("elem", "o").withColumnRenamed("id", "o_id"),
                ent_small,
            ),
            ["kg", "o"],
        )
        .select("s_id", "p_id", "o_id", "kg")
    )


def encode_pairs(
    pairs: DataFrame,
    ids1: DataFrame,
    ids2: DataFrame,
    broadcast_threshold: int = BROADCAST_ROW_THRESHOLD,
) -> DataFrame:
    """D6 (uris_pair_2ids, read.py:129-138): pairs with either side missing
    from its dictionary are silently dropped (inner-join semantics — the
    reference does the same with an `if in` filter).

    Dictionary sides broadcast only while they measure at or under
    ``broadcast_threshold`` rows (see :func:`encode_triples`)."""
    return (
        pairs.join(
            _gated_broadcast(
                ids1.select(F.col("elem").alias("e1"), F.col("id").alias("id1")),
                ids1.count() <= broadcast_threshold,
            ),
            "e1",
        )
        .join(
            _gated_broadcast(
                ids2.select(F.col("elem").alias("e2"), F.col("id").alias("id2")),
                ids2.count() <= broadcast_threshold,
            ),
            "e2",
        )
        .select("id1", "id2")
    )


def encode_attribute_triples(
    attr_triples: DataFrame,
    ent_ids: DataFrame,
    attr_ids: DataFrame,
    broadcast_threshold: int = BROADCAST_ROW_THRESHOLD,
) -> DataFrame:
    """D7 (read.py:152-163): heads without an entity id drop silently;
    the literal passes through unchanged.

    Dictionary sides broadcast only while they measure at or under
    ``broadcast_threshold`` rows (see :func:`encode_triples`)."""
    return (
        attr_triples.join(
            _gated_broadcast(
                ent_ids.select(F.col("elem").alias("e"), F.col("id").alias("e_id")),
                ent_ids.count() <= broadcast_threshold,
            ),
            "e",
        )
        .join(
            _gated_broadcast(
                attr_ids.select(F.col("elem").alias("a"), F.col("id").alias("a_id")),
                attr_ids.count() <= broadcast_threshold,
            ),
            "a",
        )
        .select("e_id", "a_id", "v")
    )
