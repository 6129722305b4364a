"""Streaming incremental KG construction — the flagship pipeline as a
stream (rebuild surface; the reference is batch-only, SURVEY.md §2.13).

Each micro-batch of crawled pages runs the batch DAG's own extraction
step (``pipeline.kg_build``), then folds the resulting
triples into the persisted graph with ``pipeline.incremental.
incremental_update`` — frozen existing ids, appended unseen ids,
O(delta + one scan) edge merge. The stream therefore converges to the
same URI-level graph as a one-shot batch rebuild over the same pages
(id ASSIGNMENT differs by arrival order — the documented incremental
deviation from the batch interleave — but the decoded (s, p, o, kg)
edge set is identical; asserted by tests/test_streaming.py).

State layout (the Iceberg-append analogue this sandbox can express in
plain parquet): ONE versioned-delta log, shared by the KG state, the
host graph, the canonical insert/delete log and the corpus profile,
which differ only in their merge. Each micro-batch commits ONLY ITS
DELTA as ``{state_dir}/v{batch_id}/{table}/`` (for the KG: the NEW
dictionary rows — ids above the parent's max — and the NOVEL edges), so
a batch's write cost is O(delta), never O(graph) — at 10^12 documents a
full-table rewrite per micro-batch would be the scale killer. A version
counts once every table carries its parquet ``_SUCCESS`` marker.
Reading state = the family's merge over one multi-path scan per table
of the committed versions (Iceberg's manifest-of-files, literally).
foreachBatch may REPLAY a batch after a crash; a replayed batch re-reads
versions strictly below its own id and overwrites only its own, so the
retry is idempotent. Compaction rewrites the merged view as one version
(layout changes, content does not). Listing, ``_SUCCESS`` checks,
delete and rename go through the Hadoop FileSystem API
(``pipeline.checkpoint._HadoopFS``), so a ``file://``/``hdfs://`` state
dir behaves like a local path.
"""

from __future__ import annotations

import functools
import posixpath
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ontoea_spark.pipeline.checkpoint import _HadoopFS

ENT_SCHEMA = "kg long, elem string, freq long, rank long, id long"
REL_SCHEMA = ENT_SCHEMA
EDGE_SCHEMA = "s_id long, p_id long, o_id long, kg long"

_STATE_TABLES = ("ent_ids", "rel_ids", "edges")


# ---------------------------------------------------------------------------
# the versioned-delta log
# ---------------------------------------------------------------------------


def _version_dir(state_dir: str, v: int) -> str:
    return posixpath.join(state_dir, f"v{v}")


def _union(*frames: DataFrame) -> tuple[DataFrame, ...]:
    """The KG state's merge. A family's merge maps the per-table scans of
    committed versions to the merged view in the tables' own schema,
    which compaction writes back as one version."""
    return frames


def _committed_versions(
    state_dir: str, tables: tuple[str, ...] = _STATE_TABLES
) -> list[int]:
    """Versions whose LAST table write finished (parquet _SUCCESS marker
    on every table — a half-written snapshot from a crashed batch is
    invisible and its replay overwrites it)."""
    fs = _HadoopFS(SparkSession.active(), state_dir)
    if not fs.exists(state_dir):
        return []
    return sorted(
        int(name[1:])
        for name in fs.listdir(state_dir)
        if name.startswith("v")
        and all(
            fs.exists(posixpath.join(state_dir, name, t, "_SUCCESS"))
            for t in tables
        )
    )


def _read(
    spark,
    state_dir: str,
    tables: tuple[str, ...],
    merge: Callable[..., tuple[DataFrame, ...]] = _union,
    before: int | None = None,
) -> tuple[DataFrame, ...] | None:
    """``merge`` over one multi-path parquet scan per table of the
    committed versions (only those < ``before`` when given) — the union
    is file listing, not a shuffle. None if there are none."""
    versions = _committed_versions(state_dir, tables)
    if before is not None:
        versions = [v for v in versions if v < before]
    if not versions:
        return None
    dirs = [_version_dir(state_dir, v) for v in versions]
    return merge(
        *(spark.read.parquet(*[posixpath.join(d, t) for d in dirs]) for t in tables)
    )


def _commit(base: str, **frames: DataFrame) -> None:
    """Write ``table=frame`` under ``base``: a version dir (a replayed
    batch overwrites its own) or compaction's staging dir."""
    for table, df in frames.items():
        df.write.mode("overwrite").parquet(posixpath.join(base, table))


def _compact(
    spark,
    state_dir: str,
    tables: tuple[str, ...],
    merge: Callable[..., tuple[DataFrame, ...]] = _union,
) -> int:
    """Rewrite the merged view as one version under the current max id:
    write ``_compact_v{vmax}`` -> drop every committed version -> rename.
    Returns the compacted version id."""
    versions = _committed_versions(state_dir, tables)
    if not versions:
        raise ValueError(f"no committed {'/'.join(tables)} state under {state_dir}")
    vmax = versions[-1]
    tmp = posixpath.join(state_dir, f"_compact_v{vmax}")
    merged = _read(spark, state_dir, tables, merge, before=vmax + 1)
    _commit(tmp, **dict(zip(tables, merged)))
    fs = _HadoopFS(spark, state_dir)
    for v in versions:
        fs.delete(_version_dir(state_dir, v))
    fs.rename(tmp, _version_dir(state_dir, vmax))
    return vmax


def _drain_pages(
    spark,
    pages_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    fold: Callable[[DataFrame, int], None],
):
    """Run ``fold(batch_df, batch_id)`` over every pages file currently
    under ``pages_path`` (availableNow) and return the terminated query."""
    from ontoea_spark.streaming.ingest import _available_now, read_pages_stream

    stream = read_pages_stream(
        spark, pages_path, max_files_per_trigger=max_files_per_trigger
    )
    return _available_now(stream.writeStream.foreachBatch(fold), checkpoint_dir)


# ---------------------------------------------------------------------------
# streaming KG state (the flagship graph)
# ---------------------------------------------------------------------------


def read_kg_state(
    spark, state_dir: str, before: int | None = None
) -> tuple[DataFrame, DataFrame, DataFrame] | None:
    """(ent_ids, rel_ids, edges) as the UNION of committed deltas,
    optionally restricted to versions < ``before`` (a replaying batch
    must read strictly below its own id, never its own half-committed
    delta). None if no snapshot exists yet. One multi-path parquet scan
    per table — the union is file listing, not a shuffle."""
    return _read(spark, state_dir, _STATE_TABLES, before=before)


def _empty_state(spark) -> tuple[DataFrame, DataFrame, DataFrame]:
    return (
        spark.createDataFrame([], ENT_SCHEMA),
        spark.createDataFrame([], REL_SCHEMA),
        spark.createDataFrame([], EDGE_SCHEMA),
    )


def ingest_pages_batch(
    pages: DataFrame, spark, state_dir: str, batch_id: int
) -> None:
    """The foreachBatch body: pages micro-batch -> triples -> incremental
    merge -> O(delta) versioned commit. Pure function of (parent deltas,
    batch rows), so a post-crash replay is idempotent. Only the NEW
    dictionary rows (id above the parent max — frozen-append makes that
    a range filter) and the NOVEL edges are written; the graph itself is
    never rewritten."""
    from ontoea_spark.pipeline.incremental import incremental_update
    from ontoea_spark.pipeline.kg_build import _kg_triples, _pages_text

    triples = _kg_triples(_pages_text(pages))
    state = read_kg_state(spark, state_dir, before=batch_id)
    ent, rel, edges = state if state is not None else _empty_state(spark)
    # parent max ids: tiny aggregates over the dictionary union — the
    # boundary between frozen rows and this batch's appended rows
    ent_max = ent.agg(F.coalesce(F.max("id"), F.lit(-1))).first()[0]
    rel_max = rel.agg(F.coalesce(F.max("id"), F.lit(-1))).first()[0]
    inc = incremental_update(
        ent,
        rel,
        edges,
        triples,
        F.col("kgn"),
    )
    _commit(
        _version_dir(state_dir, batch_id),
        ent_ids=inc.ent_ids.filter(F.col("id") > ent_max),
        rel_ids=inc.rel_ids.filter(F.col("id") > rel_max),
        edges=inc.novel_edges,
    )


def streaming_kg_build(
    spark,
    pages_path: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
):
    """Run the incremental KG build over a stream of pages files with an
    availableNow trigger (drains everything currently present, then
    stops — the bounded-source test mode; a production crawl drops the
    trigger and runs forever). Returns the terminated query."""
    def fold(batch_df: DataFrame, batch_id: int) -> None:
        ingest_pages_batch(batch_df, spark, state_dir, batch_id)

    return _drain_pages(spark, pages_path, checkpoint_dir, max_files_per_trigger, fold)


def compact_kg_state(spark, state_dir: str) -> int:
    """Offline maintenance (run while the stream is stopped — the
    Iceberg compaction analogue): merge all committed deltas into one
    delta dir under the CURRENT max version id, so reads scan one file
    set instead of one per micro-batch. Content is unchanged; version
    numbering is unchanged (the stream's next batch_id is tracked by its
    own Spark checkpoint and is strictly greater, so no collision).
    Returns the compacted version id.

    Crash-safety note, honestly: the sandbox's parquet layout swaps
    directories (write merged -> remove old -> rename), which is not
    atomic end-to-end; production Iceberg expresses this as a single
    snapshot commit. Run it as stop-the-world maintenance here."""
    return _compact(spark, state_dir, _STATE_TABLES)


def decoded_edges(
    ent_ids: DataFrame, rel_ids: DataFrame, edges: DataFrame
) -> DataFrame:
    """Edge table decoded back to URIs: DataFrame[s, p, o, kg] — the
    id-assignment-independent view used to compare streaming and batch
    builds. The dictionaries are corpus-vocab-sized, so their broadcast
    hints are row-count-gated like every dictionary join (past the gate
    AQE plans the decode joins)."""
    from ontoea_spark.operators.dictionary import (
        BROADCAST_ROW_THRESHOLD,
        _gated_broadcast,
    )

    ent_m = ent_ids.select("kg", "elem", "id").localCheckpoint(eager=True)
    rel_m = rel_ids.select("kg", "elem", "id").localCheckpoint(eager=True)
    # independent gates: the relation vocab is typically tiny even when
    # the entity vocab is way past the threshold
    ent = _gated_broadcast(ent_m, ent_m.count() <= BROADCAST_ROW_THRESHOLD)
    rel = _gated_broadcast(rel_m, rel_m.count() <= BROADCAST_ROW_THRESHOLD)
    return (
        edges.join(
            ent.select(
                F.col("kg"), F.col("id").alias("s_id"), F.col("elem").alias("s")
            ),
            ["kg", "s_id"],
        )
        .join(
            rel.select(
                F.col("kg"), F.col("id").alias("p_id"), F.col("elem").alias("p")
            ),
            ["kg", "p_id"],
        )
        .join(
            ent.select(
                F.col("kg"), F.col("id").alias("o_id"), F.col("elem").alias("o")
            ),
            ["kg", "o_id"],
        )
        .select("s", "p", "o", "kg")
    )


# ---------------------------------------------------------------------------
# streaming host link graph (additive-state rollup)
# ---------------------------------------------------------------------------

_HOST_TABLES = ("host_edges",)


def _merge_host(host_edges: DataFrame) -> tuple[DataFrame]:
    return (
        host_edges.groupBy("src_host", "dst_host").agg(
            F.sum("n_links").cast("long").alias("n_links")
        ),
    )


def ingest_links_batch(pages: DataFrame, state_dir: str, batch_id: int) -> None:
    """foreachBatch body for the streaming host link graph: this batch's
    pages -> href anchors -> host-edge PARTIAL counts, committed as the
    batch's own delta dir.

    Edge weight is a sum — a commutative-monoid state — so unlike the
    dictionary-bearing KG state this delta needs NO read of parent state
    at all: write cost is O(batch) with zero graph-sized scans, a
    crash-replay overwrites only its own version dir, and the merged
    view is a groupBy-sum over committed deltas at read time (the
    metrics-rollup pattern every streaming engine special-cases; here it
    falls out of the versioned-delta layout)."""
    from ontoea_spark.pipeline.weblinks import extract_links, host_link_graph

    _commit(
        _version_dir(state_dir, batch_id),
        host_edges=host_link_graph(extract_links(pages)),
    )


def read_host_graph(
    spark, state_dir: str, before: int | None = None
) -> DataFrame | None:
    """Merged host graph = groupBy-sum over committed partial-count
    deltas (one multi-path scan). None if nothing is committed yet."""
    state = _read(spark, state_dir, _HOST_TABLES, _merge_host, before)
    return None if state is None else state[0]


def streaming_host_graph(
    spark,
    pages_path: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
):
    """Incremental host-graph maintenance over a stream of pages files
    (availableNow drain for the bounded test mode; a production crawl
    runs unbounded). Converges to exactly the batch
    host_link_graph(extract_links(pages)) counts — addition is
    arrival-order-free, so there is no incremental deviation at all
    (asserted by tests/test_streaming.py)."""
    def fold(batch_df: DataFrame, batch_id: int) -> None:
        ingest_links_batch(batch_df, state_dir, batch_id)

    return _drain_pages(spark, pages_path, checkpoint_dir, max_files_per_trigger, fold)


def compact_host_graph(spark, state_dir: str) -> int:
    """Merge all committed host-edge deltas into one PRE-AGGREGATED
    delta under the current max version id (stop-the-world maintenance,
    same contract as compact_kg_state). The merged view is unchanged:
    read-time groupBy-sum over one pre-summed delta is the identity."""
    return _compact(spark, state_dir, _HOST_TABLES, _merge_host)


# ---------------------------------------------------------------------------
# streaming canonical graph: merge-on-read insert/delete log
# ---------------------------------------------------------------------------
#
# Canonicalization state is NOT an additive monoid (a batch whose links
# dethrone a canonical RETRACTS previously-committed rows), so the
# host-graph partial-sum trick doesn't apply. The versioned-delta layout
# still does: each batch commits its CanonicalDelta change sets as an
# insert/delete log (``triple_log``: s,p,o,op,v) plus latest-wins map
# rows (``map_log``: entity,canonical,v) — exactly Iceberg's
# merge-on-read delete files. Commit cost is O(delta + affected); the
# merged view is ONE groupBy (max_by over the version) per table at read
# time; a crash-replay re-reads strictly below its own version and
# overwrites only its own dir, so replays are idempotent.

_CANON_TABLES = ("triple_log", "map_log")
TRIPLE_LOG_SCHEMA = "s string, p string, o string, op string, v long"
MAP_LOG_SCHEMA = "entity string, canonical string, v long"


def _merge_canonical(
    triple_log: DataFrame, map_log: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The log's live rows: the latest op per (s,p,o) with tombstones
    dropped, the latest canonical per entity (each stamped with its
    version, so compaction leaves a valid log)."""
    return (
        triple_log.groupBy("s", "p", "o")
        .agg(F.max_by("op", "v").alias("op"), F.max("v").alias("v"))
        .filter(F.col("op") == "insert"),
        map_log.groupBy("entity").agg(
            F.max_by("canonical", "v").alias("canonical"), F.max("v").alias("v")
        ),
    )


def read_canonical_state(
    spark, state_dir: str, before: int | None = None
) -> tuple[DataFrame, DataFrame] | None:
    """(triples, mapping) from the log: the latest op per (s,p,o) wins
    (a delete tombstone drops the row), the latest canonical per entity
    wins. None before the first commit."""
    state = _read(spark, state_dir, _CANON_TABLES, _merge_canonical, before)
    if state is None:
        return None
    triples, mapping = state
    return triples.select("s", "p", "o"), mapping.select("entity", "canonical")


def ingest_canonical_stream_batch(
    spark,
    delta_triples: DataFrame,
    delta_links: DataFrame,
    state_dir: str,
    batch_id: int,
) -> None:
    """foreachBatch body for streaming canonicalization: fold this
    batch's (triples, links) into the canonical graph via
    ``pipeline.canonicalize.ingest_canonical_batch`` and commit ONLY the
    change sets. The first batch bootstraps with a plain canonical
    rewrite (everything inserts)."""
    from ontoea_spark.pipeline.canonicalize import (
        canonical_entity_map,
        ingest_canonical_batch,
        rewrite_triples,
    )

    state = read_canonical_state(spark, state_dir, before=batch_id)
    cur_t = None
    if state is None:
        mapping = canonical_entity_map(delta_links).localCheckpoint(eager=True)
        novel = rewrite_triples(delta_triples, mapping)
        retracted = spark.createDataFrame([], "s string, p string, o string")
        changed_map = mapping
    else:
        cur_t, cur_m = state
        # persist (NOT localCheckpoint) the merged corpus view: the
        # ingest probe-scans it 2-3x within this batch, but pinning an
        # O(corpus) checkpointed RDD per micro-batch would accumulate
        # until GC — persist is spill-safe and released in `finally`
        cur_t = cur_t.persist()
        d = ingest_canonical_batch(cur_t, cur_m, delta_triples, delta_links)
        novel, retracted, changed_map = (
            d.novel_triples,
            d.retracted_triples,
            d.changed_map_rows,
        )
    v = F.lit(batch_id).cast("long")
    try:
        _commit(
            _version_dir(state_dir, batch_id),
            triple_log=novel.withColumn("op", F.lit("insert"))
            .unionByName(retracted.withColumn("op", F.lit("delete")))
            .withColumn("v", v),
            map_log=changed_map.withColumn("v", v),
        )
    finally:
        if cur_t is not None:
            cur_t.unpersist()


def compact_canonical_state(spark, state_dir: str) -> int:
    """Collapse the insert/delete log into one all-inserts base version
    (Iceberg's MoR compaction): read the merged view, rewrite it as a
    single delta under the current max version, drop the rest. The
    merged view is unchanged by construction."""
    return _compact(spark, state_dir, _CANON_TABLES, _merge_canonical)


# ---------------------------------------------------------------------------
# streaming corpus profile: sketch state (additive CMS + semilattice KMV)
# ---------------------------------------------------------------------------
#
# The profiling sketches (operators/sketches.py) are the two easiest
# kinds of streaming state there are, and for opposite algebraic
# reasons: count-min cells are an additive monoid (the host-graph
# partial-sum shape — read = groupBy-sum over deltas) and KMV minima are
# a semilattice (merge = k-smallest-of-union — read = k-minima over the
# flattened deltas). Both mean a micro-batch commits ONLY its own
# batch-local sketch: zero parent reads, O(batch) write cost, and the
# merged view equals the one-shot sketch of all rows EXACTLY (monoid /
# semilattice laws — asserted by tests/test_streaming.py), so a crawl's
# running cardinality and hot-key profile stays current per micro-batch
# without ever rescanning the corpus.

_PROFILE_TABLES = ("kmv_minima", "cms_cells")


def _merge_profile(
    key_cols: tuple[str, ...], k: int, kmv_minima: DataFrame, cms_cells: DataFrame
) -> tuple[DataFrame, DataFrame]:
    return (
        kmv_minima.groupBy(*key_cols).agg(
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("minima")))),
                1,
                k,
            ).alias("minima")
        ),
        cms_cells.groupBy("row", "col").agg(F.sum("cnt").cast("long").alias("cnt")),
    )


def ingest_profile_batch(
    df: DataFrame,
    state_dir: str,
    batch_id: int,
    key_cols: tuple[str, ...],
    value_col: str,
    k: int = 64,
    d: int = 4,
    w: int = 1024,
) -> None:
    """foreachBatch body: this batch's rows -> its OWN KMV + CMS sketches,
    committed as the batch's versioned delta dir (replay overwrites only
    its own version — idempotent)."""
    from ontoea_spark.operators.sketches import cms_sketch, kmv_sketch

    _commit(
        _version_dir(state_dir, batch_id),
        kmv_minima=kmv_sketch(df, list(key_cols), value_col, k),
        cms_cells=cms_sketch(df, value_col, d, w),
    )


def read_profile(
    spark,
    state_dir: str,
    key_cols: tuple[str, ...],
    k: int = 64,
    before: int | None = None,
) -> tuple[DataFrame, DataFrame] | None:
    """(kmv_sketch, cms) merged over committed deltas: KMV per key is the
    k smallest of the union of the batch minima (collect_list state is
    bounded at k * n_versions per key; compaction resets it), CMS is the
    host-graph groupBy-sum. None if nothing committed yet."""
    merge = functools.partial(_merge_profile, key_cols, k)
    return _read(spark, state_dir, _PROFILE_TABLES, merge, before)


def streaming_corpus_profile(
    spark,
    pages_path: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    k: int = 64,
    d: int = 4,
    w: int = 1024,
):
    """Running crawl profile over a stream of pages files: per-lang
    distinct-URL KMV + URL-frequency CMS (recrawl hot-key detector),
    maintained per micro-batch at O(batch) cost. availableNow drain for
    the bounded test mode; a production crawl runs unbounded."""
    def fold(batch_df: DataFrame, batch_id: int) -> None:
        ingest_profile_batch(
            batch_df.select("lang", "url"),
            state_dir,
            batch_id,
            ("lang",),
            "url",
            k,
            d,
            w,
        )

    return _drain_pages(spark, pages_path, checkpoint_dir, max_files_per_trigger, fold)


def compact_profile(
    spark, state_dir: str, key_cols: tuple[str, ...], k: int = 64
) -> int:
    """Merge all committed sketch deltas into one (stop-the-world
    maintenance, same contract as compact_host_graph): semilattice and
    monoid merges are idempotent/associative, so re-reading the single
    compacted delta reproduces the merged view exactly."""
    merge = functools.partial(_merge_profile, key_cols, k)
    return _compact(spark, state_dir, _PROFILE_TABLES, merge)
