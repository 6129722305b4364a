"""Entity canonicalization — consume alignment links to unify the KG.

The north rule's "link and canonicalize entities before materializing"
stage: ``build_kg`` emits two per-KG triple sets plus (e1, e2) alignment
links; this module folds the links back into the graph so every aligned
entity cluster becomes ONE canonical node, then re-encodes the merged
triple set with a single unified dictionary. :func:`_canonicalize`
composes that DAG once; ``canonicalize_kg`` materializes it in the
session, ``pipeline.checkpoint.run_canonicalize_checkpointed`` as
resumable parquet stages.

Reference counterpart: OntoEA never rewrites the graph — aligned pairs
only ever share an *id* during training (``generate_sharing_id``,
reference read.py:29-61, kgs.py:33-40) and matches surface at
evaluation. The rebuild makes the merge a first-class distributed
stage, because at crawl scale the canonical graph IS the product (the
partitioned edge/vertex tables downstream consumers read).

At-scale design (the shuffles, all of them):

* the component computation runs over the LINK set only — O(linked
  entities), orders of magnitude smaller than the edge table — with
  pointer-jumping min-label propagation (O(log diameter) rounds,
  ``operators/graph.py``);
* the (entity -> canonical) map keeps only NON-identity rows, so its
  size is bounded by the number of merged entities; the two edge-rewrite
  joins broadcast it while it fits (same row-count gate as the
  dictionary encodes) and degrade to AQE-planned shuffled joins past
  the threshold;
* one ``distinct`` over the rewritten triples (set semantics — merging
  collapses parallel edges), then the unified dictionary reuses the
  two-phase exact rank (no single-partition window anywhere).

Chains and many-to-many links are handled by construction: a predicted
link set where kg1:a and kg1:b both link kg2:x collapses all three to
min(kg1:a, kg1:b). For the synthetic gold links (1:1 bipartite,
``kg1:w`` < ``kg2:w`` lexicographically) the component minimum is
always the kg1 member — which is what lets the driver oracle express
the same rewrite as two plain left joins.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontoea_spark.operators.dictionary import (
    BROADCAST_ROW_THRESHOLD,
    _gated_broadcast,
    anti_join_keep_small,
    combined_dictionary_frame,
    encode_triples,
)
from ontoea_spark.operators.graph import connected_components
from ontoea_spark.pipeline.checkpoint import _InMemory


@dataclass
class CanonicalKG:
    triples: DataFrame  # canonical (s, p, o) URIs, set semantics
    ent_ids: DataFrame  # unified dictionary (elem, freq, id)
    rel_ids: DataFrame
    edges: DataFrame  # (s_id, p_id, o_id)
    vertices: DataFrame  # (id, uri, freq, srcs)
    mapping: DataFrame | None = None  # (entity, canonical), non-identity rows


def canonical_entity_map(
    links: DataFrame,
    left_col: str = "e1",
    right_col: str = "e2",
    max_iter: int = 25,
) -> DataFrame:
    """(e1, e2) pairs -> (entity, canonical) with canonical = the
    minimum URI in each connected component of the link graph.

    Only entities that actually change are returned (identity rows are
    dropped), so the map's row count == number of merged-away entities —
    the quantity the broadcast gate should see, not |all entities|.
    """
    # the link frame feeds four plan branches (both node columns, both
    # sym directions) — checkpoint once so a derived link set (the gold
    # alignment join) isn't re-derived per branch
    links = links.localCheckpoint(eager=False)
    nodes = (
        links.select(F.col(left_col).alias("entity"))
        .unionAll(links.select(F.col(right_col).alias("entity")))
        .distinct()
    )
    comp = connected_components(
        nodes, links, id_col="entity",
        left_col=left_col, right_col=right_col, max_iter=max_iter,
    )
    return comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("entity"), F.col("component").alias("canonical")
    )


def _prepared_map(
    mapping: DataFrame, broadcast_threshold: int
) -> tuple[DataFrame, bool]:
    """Materialize the map once (it feeds several joins) and decide the
    broadcast gate from its actual row count. Lazy checkpoint + count:
    one blocking job, not a materialize job followed by a count job."""
    mapping = mapping.localCheckpoint(eager=False)
    return mapping, mapping.count() <= broadcast_threshold


def _rewrite_so(df: DataFrame, mapping: DataFrame, small: bool) -> DataFrame:
    """Rewrite the s/o columns of ``df`` through the canonical map via
    two gated-broadcast left joins, preserving every other column."""
    ms = _gated_broadcast(
        mapping.select(
            F.col("entity").alias("s"), F.col("canonical").alias("s_canon")
        ),
        small,
    )
    mo = _gated_broadcast(
        mapping.select(
            F.col("entity").alias("o"), F.col("canonical").alias("o_canon")
        ),
        small,
    )
    other = [c for c in df.columns if c not in ("s", "o")]
    return (
        df.join(ms, "s", "left")
        .join(mo, "o", "left")
        .select(
            F.coalesce("s_canon", "s").alias("s"),
            *[F.col(c) for c in other],
            F.coalesce("o_canon", "o").alias("o"),
        )
    )


def rewrite_triples(
    triples: DataFrame,
    mapping: DataFrame,
    broadcast_threshold: int = BROADCAST_ROW_THRESHOLD,
) -> DataFrame:
    """Rewrite s/o through the canonical map; distinct.

    Two left joins (subject, object) against the non-identity map —
    broadcast while the map fits under ``broadcast_threshold`` rows,
    shuffled otherwise — then one set-semantics distinct (parallel
    edges collapse when their endpoints merge). Predicates are left
    untouched: entity alignment merges nodes, not relations.
    """
    mapping, small = _prepared_map(mapping, broadcast_threshold)
    return _rewrite_so(triples, mapping, small).select("s", "p", "o").distinct()


def canonical_triple_provenance(
    pages_text: DataFrame,
    mapping: DataFrame,
    text_col: str = "text",
    namespace_col: str | None = None,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    broadcast_threshold: int = BROADCAST_ROW_THRESHOLD,
) -> DataFrame:
    """Crawl provenance of the CANONICAL graph: every canonical (s,p,o)
    with exact distinct-page corroboration, mention count, and crawl-time
    window — merged entities pool their evidence.

    The rewrite runs at MENTION level, before the one (s,p,o) aggregate
    (extract.provenance_mentions -> _rewrite_so -> provenance_agg):
    summing the pre-merge triples' per-triple page counts instead would
    overcount any page that asserts two variants of the same canonical
    fact. Same single shuffle as extract.triple_provenance — the two
    rewrite joins are gated broadcasts against the O(merged) map, and
    min/max/count partials stay map-side combinable.
    """
    from ontoea_spark.pipeline.extract import provenance_agg, provenance_mentions

    m = provenance_mentions(pages_text, text_col, namespace_col, url_col, ts_col)
    mapping, small = _prepared_map(mapping, broadcast_threshold)
    return provenance_agg(_rewrite_so(m, mapping, small))


def vertex_provenance(
    entities: DataFrame,
    mapping: DataFrame,
    broadcast_threshold: int = BROADCAST_ROW_THRESHOLD,
    small: bool | None = None,
) -> DataFrame:
    """(canonical uri -> srcs): which source KGs merged into each node.

    ``entities``: one column ``entity`` of pre-rewrite URIs (namespace-
    prefixed ``kg<N>:...``). Returns (uri, srcs) with srcs the sorted
    comma-joined distinct namespace prefixes — ``'kg1,kg2'`` for a
    merged node, single-prefix otherwise. One groupBy over the entity
    set (not the edge table).
    """
    if small is None:
        small = mapping.count() <= broadcast_threshold
    m = _gated_broadcast(
        mapping.select(
            F.col("entity"), F.col("canonical")
        ),
        small,
    )
    return (
        entities.join(m, "entity", "left")
        .select(
            F.coalesce("canonical", "entity").alias("uri"),
            F.substring_index("entity", ":", 1).alias("src"),
        )
        .groupBy("uri")
        .agg(F.concat_ws(",", F.array_sort(F.collect_set("src"))).alias("srcs"))
    )


@dataclass
class CanonicalDelta:
    """One incremental canonicalization commit. ``triples``/``mapping``
    are the updated full views (lazy plans over the previous state);
    the remaining frames are the O(delta)/O(affected) change sets an
    append-only or merge-on-read sink commits instead of rewriting the
    world."""

    triples: DataFrame            # updated canonical triple set
    mapping: DataFrame            # updated flat (entity -> canonical) map
    remap: DataFrame              # (entity, canonical): delta component result —
                                  # keys are former canonicals/singletons/new nodes
    novel_triples: DataFrame      # canonical rows absent from the previous set
    retracted_triples: DataFrame  # previous rows whose canonical form changed
    changed_map_rows: DataFrame   # map rows added or rewritten this batch


def ingest_canonical_batch(
    triples: DataFrame,
    mapping: DataFrame,
    delta_triples: DataFrame,
    delta_links: DataFrame,
    broadcast_threshold: int = BROADCAST_ROW_THRESHOLD,
) -> CanonicalDelta:
    """Extend a canonical graph with a batch of new triples + alignment
    links WITHOUT re-running global connected components — the crawl
    grows by deltas, and re-canonicalizing 10^12 edges per batch is not
    a plan.

    Equality contract (tested): the result is EXACTLY the full rebuild
    ``canonicalize_kg``-style rewrite over (triples ∪ delta) with
    (links ∪ delta links) — including batches whose links merge two
    existing components or make a brand-new entity the component
    minimum.

    Why it's correct: the stored canonical is the MIN of its component,
    so resolving the delta links' endpoints through the existing map
    and running components over the RESOLVED delta only (O(batch) —
    never the full link set) yields, per delta component, members that
    are old component minima / singletons / new entities; the minimum
    of those equals the merged component's global minimum. The result
    (``remap``) is then (a) unioned into the map and (b) applied to old
    map rows / old triples whose canonical lost its status.

    Shapes at scale: component iteration O(batch); the map update is
    one broadcast join over the map (scan, no shuffle — remap is
    O(batch) rows); the old-triple rewrite is one broadcast join over
    the edge table (scan, no shuffle) emitting O(affected) changed
    rows; the novel-row check never shuffles the corpus while the
    candidate set fits the broadcast gate — a naive
    ``candidates LEFT ANTI corpus`` would (the big side is the BUILD
    side there, so it can't broadcast), so it runs as corpus LEFT SEMI
    broadcast(candidates) (one scan, O(candidates) output) followed by
    candidates LEFT ANTI broadcast(matched), both broadcast-hash —
    plan-asserted in tests/test_canonicalize.py; past the gate it
    degrades to the shuffled anti-join.
    Disjoint keys by construction: map keys are never canonicals, remap
    keys never map keys, so the unions need no dedup.
    """
    mapping, msmall = _prepared_map(mapping, broadcast_threshold)

    # 1. resolve delta link endpoints through the existing map, then
    #    components over the resolved O(batch) link set only
    resolved = _rewrite_so(
        delta_links.select(F.col("e1").alias("s"), F.col("e2").alias("o")),
        mapping,
        msmall,
    ).select(F.col("s").alias("e1"), F.col("o").alias("e2"))
    remap = canonical_entity_map(resolved).localCheckpoint(eager=False)
    # O(batch) by construction, but gate anyway (a pathological
    # mega-batch should degrade, not OOM) — the count is a metadata
    # read on the checkpointed frame
    rsmall = remap.count() <= broadcast_threshold

    # 2. map maintenance: rows whose canonical lost its status follow it
    #    to the new minimum; the remap rows join the map themselves
    rm = _gated_broadcast(
        remap.select(
            F.col("entity").alias("canonical"), F.col("canonical").alias("new_c")
        ),
        rsmall,
    )
    moved = (
        mapping.join(rm, "canonical")
        .select("entity", F.col("new_c").alias("canonical"))
        .localCheckpoint(eager=False)
    )
    kept = mapping.join(rm.select("canonical"), "canonical", "left_anti").select(
        "entity", "canonical"
    )
    changed_map_rows = moved.unionByName(remap)
    mapping2 = kept.unionByName(changed_map_rows).localCheckpoint(eager=False)

    # 3. old triples touched by the remap: rewrite via broadcast joins,
    #    keeping the pre-image so the changed rows surface as explicit
    #    retract/insert pairs (merge-on-read commit unit)
    rs = _gated_broadcast(
        remap.select(F.col("entity").alias("s"), F.col("canonical").alias("s_new")),
        rsmall,
    )
    ro = _gated_broadcast(
        remap.select(F.col("entity").alias("o"), F.col("canonical").alias("o_new")),
        rsmall,
    )
    marked = triples.join(rs, "s", "left").join(ro, "o", "left")
    touched = marked.filter(
        F.col("s_new").isNotNull() | F.col("o_new").isNotNull()
    ).localCheckpoint(eager=False)
    retracted = touched.select("s", "p", "o")
    # no inner distinct: `candidates` below dedups the union once
    rewritten_old = touched.select(
        F.coalesce("s_new", "s").alias("s"),
        F.col("p"),
        F.coalesce("o_new", "o").alias("o"),
    )

    # 4. delta triples rewrite through the UPDATED map, then the novel
    #    view: candidates are O(delta + affected) rows, anti-joined
    #    against the previous corpus
    mapping2_small = (
        mapping2.count() <= broadcast_threshold
    )
    new_canon = _rewrite_so(delta_triples, mapping2, mapping2_small).select(
        "s", "p", "o"
    )
    candidates = rewritten_old.unionByName(new_canon).distinct()
    novel = anti_join_keep_small(
        candidates, triples, ["s", "p", "o"], broadcast_threshold
    )

    # updated = (prev \ touched) ∪ novel, EXACTLY and without a corpus
    # distinct: prev is a set, novel is deduped and disjoint from prev
    # by construction, and a rewritten form can never itself be a
    # touched row (its endpoints are new canonicals, never remap keys) —
    # so the union is already duplicate-free. The touched anti-join's
    # build side is O(affected); AQE broadcasts it, leaving one corpus
    # SCAN as the whole update plan.
    updated_triples = triples.join(
        touched.select("s", "p", "o"), ["s", "p", "o"], "left_anti"
    ).unionByName(novel)
    return CanonicalDelta(
        triples=updated_triples,
        mapping=mapping2,
        remap=remap,
        novel_triples=novel,
        retracted_triples=retracted,
        changed_map_rows=changed_map_rows,
    )


def materialize_canonical(
    edges: DataFrame,
    vertices: DataFrame,
    base_path: str,
    table_prefix: str = "canonical",
    n_buckets: int = 32,
) -> dict[str, str]:
    """Materialize the canonical graph as the product tables downstream
    consumers read — the north rule's "materializing the graph as
    partitioned edge/vertex tables".

    Edges are written bucketed+sorted by ``s_id`` and vertices by ``id``
    (sources/tables.write_bucketed), so the standing graph workloads —
    out-adjacency joins, degree aggregates, vertex-attribute lookups on
    the entity id — read co-located buckets and skip their shuffle
    entirely (zero-Exchange plans asserted in tests/test_canonicalize.py).
    Pay one clustered write at build time, save a shuffle on every
    downstream join of every consumer. Iceberg's analogue is a
    ``bucket(n, id)`` partition transform behind the same call
    (sources/tables.py module docstring has the submit recipe).

    Returns ``{"edges": <table>, "vertices": <table>}`` catalog names.
    """
    from ontoea_spark.sources.tables import write_bucketed

    names = {
        "edges": f"{table_prefix}_edges",
        "vertices": f"{table_prefix}_vertices",
    }
    write_bucketed(
        edges, names["edges"], f"{base_path}/edges", ("s_id",), n_buckets
    )
    write_bucketed(
        vertices, names["vertices"], f"{base_path}/vertices", ("id",), n_buckets
    )
    return names


def _canonicalize(
    triples: DataFrame,
    links: DataFrame,
    mat,
    broadcast_threshold: int = BROADCAST_ROW_THRESHOLD,
) -> dict[str, DataFrame]:
    """The canonicalization DAG over the (s, p, o) triples of both KGs,
    stage by stage, materialized by ``mat``
    (``pipeline.checkpoint._InMemory`` or ``_Snapshots``).

    The unified dictionaries are the one-KG path (D3
    ``mapping_id_oneKG``, reference read.py:64-69: id == frequency rank)
    over the CANONICAL triple set — merged nodes rank by their merged
    frequency, which is exactly the property the downstream
    adjacency/degree consumers want. Both come from ONE grouped-rank
    pass (the kg≡1 case of ``combined_dictionary_frame``: with no
    partner KG the interleave arithmetic degenerates to id == rank).
    """
    # the map feeds several joins; its row count (the number of
    # merged-away entities) decides the broadcast gate
    mapping = mat.stage(
        "canonical_map", lambda: canonical_entity_map(links), keep="lazy"
    )
    small = mat.rows("canonical_map", mapping) <= broadcast_threshold
    # eager in memory: the dictionary builder references this frame
    # from THREE union branches inside its materializing job — lazy
    # checkpointing here was measured to race-recompute the rewrite
    # subtree per branch
    canon = mat.stage(
        "canonical_triples",
        lambda: _rewrite_so(triples, mapping, small)
        .select("s", "p", "o")
        .distinct(),
        keep="eager",
    )
    # both unified dictionaries from ONE grouped-rank pass; not a stage
    # of its own, so whichever dictionary stage runs first builds it
    # (a resume of both builds nothing)
    dicts = functools.cache(
        lambda: combined_dictionary_frame(canon, F.lit(1)).localCheckpoint(
            eager=False
        )
    )
    cols = ["elem", "freq", "id"]
    ent_ids = mat.stage(
        "canonical_ent_ids", lambda: dicts().filter("grp = 'ent'").select(*cols)
    )
    rel_ids = mat.stage(
        "canonical_rel_ids", lambda: dicts().filter("grp = 'rel'").select(*cols)
    )
    n_ent, n_rel = mat.group_rows(
        dicts, "grp", {"ent": "canonical_ent_ids", "rel": "canonical_rel_ids"}
    )
    edges = mat.stage(
        "canonical_edges",
        lambda: encode_triples(
            canon,
            ent_ids,
            rel_ids,
            broadcast_threshold,
            ent_small=n_ent <= broadcast_threshold,
            rel_small=n_rel <= broadcast_threshold,
        ),
        cluster_by="s_id",
    )

    def vertices() -> DataFrame:
        pre = (
            triples.select(F.col("s").alias("entity"))
            .unionAll(triples.select(F.col("o").alias("entity")))
            .distinct()
        )
        prov = vertex_provenance(pre, mapping, broadcast_threshold, small)
        return (
            ent_ids.select(F.col("id"), F.col("elem").alias("uri"), F.col("freq"))
            .join(prov, "uri")
            .select("id", "uri", "freq", "srcs")
        )

    return {
        "canonical_map": mapping,
        "canonical_triples": canon,
        "canonical_ent_ids": ent_ids,
        "canonical_rel_ids": rel_ids,
        "canonical_edges": edges,
        "canonical_vertices": mat.stage("canonical_vertices", vertices),
    }


def canonicalize_kg(
    triples1: DataFrame,
    triples2: DataFrame,
    links: DataFrame,
    broadcast_threshold: int = BROADCAST_ROW_THRESHOLD,
) -> CanonicalKG:
    """Full canonicalization: links -> components -> rewrite -> unified
    dictionaries -> edge/vertex tables, materialized in the session."""
    s = _canonicalize(
        triples1.unionByName(triples2), links, _InMemory(), broadcast_threshold
    )
    return CanonicalKG(
        triples=s["canonical_triples"],
        ent_ids=s["canonical_ent_ids"],
        rel_ids=s["canonical_rel_ids"],
        edges=s["canonical_edges"],
        vertices=s["canonical_vertices"],
        mapping=s["canonical_map"],
    )
