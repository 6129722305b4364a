"""Streaming-equals-batch: the Structured Streaming ingest over the same
pages files must produce exactly the batch windowed counts."""

from __future__ import annotations

import pytest

from tests.conftest import REPO, SF_SMOKE  # noqa: F401

from pyspark.sql import functions as F


def test_streaming_mention_counts_match_batch(spark, tmp_path):
    from ontoea_spark.pipeline.extract import extract_mentions, extract_pages_text
    from ontoea_spark.pipeline.pages import synthesize_pages
    from ontoea_spark.streaming.ingest import (
        read_pages_stream,
        run_available_now,
        streaming_mention_counts,
    )

    pages = synthesize_pages(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    )
    src = str(tmp_path / "pages_stream")
    # several files -> several micro-batches with maxFilesPerTrigger
    pages.repartition(6).write.parquet(src)

    stream = read_pages_stream(spark, src, max_files_per_trigger=2)
    counts = streaming_mention_counts(stream, window="1 hour", watermark="2 hours")
    run_available_now(counts, str(tmp_path / "cp"), "stream_counts")
    got = {
        (r.win_start, r.win_end, r.p): r.n
        for r in spark.table("stream_counts").collect()
    }

    batch = (
        extract_mentions(
            extract_pages_text(pages).select("url", "warc_ts", "text")
        )
        .withColumn("ts", F.col("warc_ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("p"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "p",
            "n",
        )
    )
    want = {(r.win_start, r.win_end, r.p): r.n for r in batch.collect()}
    assert got == want and len(got) > 0


def test_stateful_cumulative_counts(spark, tmp_path):
    from ontoea_spark.pipeline.extract import extract_mentions, extract_pages_text
    from ontoea_spark.pipeline.pages import synthesize_pages
    from ontoea_spark.streaming.ingest import read_pages_stream
    from ontoea_spark.streaming.stateful import cumulative_counts

    pages = synthesize_pages(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    )
    src = str(tmp_path / "pages_stream2")
    pages.repartition(5).write.parquet(src)

    stream = read_pages_stream(spark, src, max_files_per_trigger=2)
    mentions = extract_mentions(
        extract_pages_text(stream).select("url", "text")
    )
    q = (
        cumulative_counts(mentions)
        .writeStream.format("memory")
        .queryName("cum_counts")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # totals are monotone per key -> max(update) == final running total
    got = {
        r.p: r.total
        for r in spark.sql(
            "SELECT p, max(total) AS total FROM cum_counts GROUP BY p"
        ).collect()
    }
    batch = extract_mentions(
        extract_pages_text(pages).select("url", "text")
    )
    want = {
        r.p: r.n
        for r in batch.groupBy("p").agg(F.count("*").alias("n")).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_distinct_triples_match_batch(spark, tmp_path):
    """Streaming dedup (bounded dropDuplicatesWithinWatermark state) over
    the whole corpus inside one watermark span == batch distinct."""
    from ontoea_spark.pipeline.extract import extract_mentions, extract_pages_text
    from ontoea_spark.pipeline.pages import synthesize_pages
    from ontoea_spark.streaming.ingest import (
        read_pages_stream,
        run_available_now,
        streaming_distinct_triples,
    )

    pages = synthesize_pages(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    )
    src = str(tmp_path / "pages_dedup_stream")
    pages.repartition(6).write.parquet(src)

    stream = read_pages_stream(spark, src, max_files_per_trigger=2)
    distinct = streaming_distinct_triples(stream, watermark="24 hours")
    run_available_now(
        distinct, str(tmp_path / "cp_dedup"), "stream_distinct", output_mode="append"
    )
    got = {
        (r.s, r.p, r.o) for r in spark.table("stream_distinct").collect()
    }

    want = {
        (r.s, r.p, r.o)
        for r in extract_mentions(
            extract_pages_text(pages).select("url", "warc_ts", "text")
        )
        .select("s", "p", "o")
        .distinct()
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_kg_build_converges_to_batch(spark, tmp_path):
    """The flagship pipeline as a stream: micro-batches of pages folded
    into the persisted graph via incremental_update must converge to the
    SAME URI-level edge set as the one-shot batch rebuild (ids differ by
    arrival order — the documented incremental deviation), with multiple
    snapshots actually committed and a drained re-run a no-op."""
    from ontoea_spark.pipeline.kg_build import build_kg
    from ontoea_spark.pipeline.pages import synthesize_pages
    from ontoea_spark.streaming.kg_stream import (
        _committed_versions,
        decoded_edges,
        read_kg_state,
        streaming_kg_build,
    )

    pages = synthesize_pages(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    )
    src = str(tmp_path / "pages_kg_stream")
    pages.repartition(6).write.parquet(src)
    state = str(tmp_path / "kg_state")
    cp = str(tmp_path / "cp_kg")

    streaming_kg_build(spark, src, state, cp, max_files_per_trigger=2)
    versions = _committed_versions(state)
    assert len(versions) >= 2, versions  # several micro-batches ran

    ent, rel, edges = read_kg_state(spark, state)
    got = {
        (r.s, r.p, r.o, r.kg)
        for r in decoded_edges(ent, rel, edges).collect()
    }
    batch = build_kg(pages)
    want = {
        (r.s, r.p, r.o, 1) for r in batch.triples1.distinct().collect()
    } | {(r.s, r.p, r.o, 2) for r in batch.triples2.distinct().collect()}
    assert got == want and len(got) > 0

    # ids stay dense and unique per (kg): the frozen-append contract
    n_ids = ent.count()
    assert ent.select("kg", "id").distinct().count() == n_ids

    # commits are O(delta): any non-first version holds strictly fewer
    # edge rows than the accumulated graph (a full-table rewrite per
    # micro-batch is the scale killer this layout exists to avoid)
    last_delta = spark.read.parquet(
        str(tmp_path / "kg_state" / f"v{versions[-1]}" / "edges")
    )
    assert last_delta.count() < edges.count()

    # drained source + same checkpoint -> no new snapshot (resume is a
    # no-op, not a replay of the world)
    streaming_kg_build(spark, src, state, cp, max_files_per_trigger=2)
    assert _committed_versions(state) == versions

    # compaction: all deltas merged under the max version id — one file
    # set per table, identical content, and the stream still resumes as
    # a no-op afterwards (batch_id tracking lives in the Spark
    # checkpoint, not the state layout)
    from ontoea_spark.streaming.kg_stream import compact_kg_state

    vmax = compact_kg_state(spark, state)
    assert vmax == versions[-1]
    assert _committed_versions(state) == [vmax]
    ent2, rel2, edges2 = read_kg_state(spark, state)
    got2 = {
        (r.s, r.p, r.o, r.kg)
        for r in decoded_edges(ent2, rel2, edges2).collect()
    }
    assert got2 == want
    streaming_kg_build(spark, src, state, cp, max_files_per_trigger=2)
    assert _committed_versions(state) == [vmax]


def test_streaming_host_graph_converges_to_batch(spark, tmp_path):
    """The host link graph as a stream: additive partial counts per
    micro-batch must sum to exactly the batch rollup (no incremental
    deviation at all — addition is arrival-order-free), replay a batch
    idempotently, resume as a no-op, and compact without content change."""
    from ontoea_spark.pipeline.pages import synthesize_pages
    from ontoea_spark.pipeline.weblinks import extract_links, host_link_graph
    from ontoea_spark.streaming.kg_stream import (
        _committed_versions,
        compact_host_graph,
        ingest_links_batch,
        read_host_graph,
        streaming_host_graph,
    )

    pages = synthesize_pages(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet"), with_links=True
    )
    src = str(tmp_path / "pages_link_stream")
    pages.repartition(6).write.parquet(src)
    state = str(tmp_path / "host_state")
    cp = str(tmp_path / "cp_links")

    streaming_host_graph(spark, src, state, cp, max_files_per_trigger=2)
    versions = _committed_versions(state, tables=("host_edges",))
    assert len(versions) >= 2, versions

    def rows(df):
        return {(r.src_host, r.dst_host, r.n_links) for r in df.collect()}

    want = rows(host_link_graph(extract_links(pages)))
    got = rows(read_host_graph(spark, state))
    assert got == want and len(got) > 0

    # crash-replay idempotence: re-running foreachBatch with the SAME
    # (rows, batch_id) overwrites only its own version dir and leaves
    # the merged view unchanged
    replay_state = str(tmp_path / "host_state_replay")
    all_pages = spark.read.parquet(src)
    ingest_links_batch(all_pages, replay_state, 0)
    once = rows(read_host_graph(spark, replay_state))
    ingest_links_batch(all_pages, replay_state, 0)
    assert rows(read_host_graph(spark, replay_state)) == once == want

    # fresh state: drained re-run with the same checkpoint is a no-op
    state2 = str(tmp_path / "host_state2")
    cp2 = str(tmp_path / "cp_links2")
    streaming_host_graph(spark, src, state2, cp2, max_files_per_trigger=2)
    v2 = _committed_versions(state2, tables=("host_edges",))
    streaming_host_graph(spark, src, state2, cp2, max_files_per_trigger=2)
    assert _committed_versions(state2, tables=("host_edges",)) == v2

    # compaction: one pre-aggregated delta, identical merged content
    vmax = compact_host_graph(spark, state2)
    assert vmax == v2[-1]
    assert _committed_versions(state2, tables=("host_edges",)) == [vmax]
    assert rows(read_host_graph(spark, state2)) == want


def test_streaming_canonical_state_converges_to_batch(spark, tmp_path):
    """Canonicalization as a stream: each micro-batch commits only its
    insert/delete change sets (merge-on-read log), yet the folded view
    equals the one-shot rebuild — including a second batch that merges
    two existing components and dethrones a canonical (retractions).
    Replay is idempotent; compaction preserves content."""
    from ontoea_spark.pipeline.canonicalize import (
        canonical_entity_map,
        rewrite_triples,
    )
    from ontoea_spark.streaming.kg_stream import (
        compact_canonical_state,
        ingest_canonical_stream_batch,
        read_canonical_state,
    )

    t1 = spark.createDataFrame(
        [
            ("kg1:a", "p", "kg1:c"),
            ("kg1:b", "q", "kg1:a"),
            ("kg2:x", "p", "kg2:w"),
            ("kg2:y", "q", "kg2:x"),
        ],
        "s string, p string, o string",
    )
    l1 = spark.createDataFrame(
        [("kg1:a", "kg2:x"), ("kg1:b", "kg2:y")], "e1 string, e2 string"
    )
    t2 = spark.createDataFrame(
        [("kg3:n0", "p", "kg2:w"), ("kg1:c", "r", "aa:z")],
        "s string, p string, o string",
    )
    l2 = spark.createDataFrame(
        [("kg2:x", "kg2:y"), ("aa:z", "kg1:a")], "e1 string, e2 string"
    )
    state = str(tmp_path / "canon_state")

    ingest_canonical_stream_batch(spark, t1, l1, state, 0)
    ingest_canonical_stream_batch(spark, t2, l2, state, 1)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    got_t, got_m = read_canonical_state(spark, state)
    full_map = canonical_entity_map(l1.unionByName(l2))
    full_t = rewrite_triples(t1.unionByName(t2), full_map)
    assert rows(got_t) == rows(full_t)
    assert rows(got_m) == rows(full_map)
    # batch 2 really exercised the retraction path: it commits delete
    # tombstones for the dethroned canonical's rows
    import os

    v1_log = spark.read.parquet(os.path.join(state, "v1", "triple_log"))
    assert v1_log.filter("op = 'delete'").count() > 0
    # and the commit is O(delta): far fewer log rows than the graph
    assert v1_log.count() < full_t.count() * 2

    # crash-replay idempotence: re-running batch 1 with the same inputs
    # overwrites its own version dir, merged view unchanged
    ingest_canonical_stream_batch(spark, t2, l2, state, 1)
    got_t2, got_m2 = read_canonical_state(spark, state)
    assert rows(got_t2) == rows(got_t) and rows(got_m2) == rows(got_m)

    # compaction: one all-inserts base version, identical content
    compact_canonical_state(spark, state)
    got_t3, got_m3 = read_canonical_state(spark, state)
    assert rows(got_t3) == rows(got_t) and rows(got_m3) == rows(got_m)


def test_streaming_profile_sketches_converge_to_batch(spark, tmp_path):
    """Sketch state as a stream: the merged KMV minima (semilattice) and
    CMS cells (additive monoid) over per-batch deltas must equal the
    one-shot sketches of all rows BIT-FOR-BIT — no incremental deviation
    exists for either algebra. Replay is idempotent; compaction changes
    layout, not content."""
    from ontoea_spark.operators.sketches import cms_sketch, kmv_sketch
    from ontoea_spark.pipeline.pages import synthesize_pages
    from ontoea_spark.streaming.kg_stream import (
        _committed_versions,
        compact_profile,
        ingest_profile_batch,
        read_profile,
        streaming_corpus_profile,
    )

    pages = synthesize_pages(spark.read.parquet(f"{SF_SMOKE}/documents.parquet"))
    rows_in = pages.select("lang", "url")
    src = str(tmp_path / "pages_profile_stream")
    pages.repartition(6).write.parquet(src)
    state = str(tmp_path / "profile_state")
    cp = str(tmp_path / "cp_profile")

    streaming_corpus_profile(spark, src, state, cp, max_files_per_trigger=2, k=16)
    assert len(_committed_versions(state, tables=("kmv_minima", "cms_cells"))) >= 2

    def kmv_rows(df):
        return {(r.lang, tuple(r.minima)) for r in df.collect()}

    def cms_rows(df):
        return {(r.row, r.col, r.cnt) for r in df.collect()}

    want_kmv = kmv_rows(kmv_sketch(rows_in, ["lang"], "url", k=16))
    want_cms = cms_rows(cms_sketch(rows_in, "url", d=4, w=1024))
    kmv, cms = read_profile(spark, state, ("lang",), k=16)
    assert kmv_rows(kmv) == want_kmv and len(want_kmv) > 0
    assert cms_rows(cms) == want_cms and len(want_cms) > 0

    # crash-replay idempotence: same (rows, batch_id) twice == once
    rstate = str(tmp_path / "profile_state_replay")
    ingest_profile_batch(rows_in, rstate, 0, ("lang",), "url", k=16)
    ingest_profile_batch(rows_in, rstate, 0, ("lang",), "url", k=16)
    kmv_r, cms_r = read_profile(spark, rstate, ("lang",), k=16)
    assert kmv_rows(kmv_r) == want_kmv and cms_rows(cms_r) == want_cms

    # compaction: single delta, identical merged content
    vmax = compact_profile(spark, state, ("lang",), k=16)
    assert _committed_versions(state, tables=("kmv_minima", "cms_cells")) == [vmax]
    kmv_c, cms_c = read_profile(spark, state, ("lang",), k=16)
    assert kmv_rows(kmv_c) == want_kmv and cms_rows(cms_c) == want_cms


def _two_page_batches(spark):
    """The smoke corpus's pages split into two micro-batches by doc
    parity, plus the whole corpus."""
    from ontoea_spark.pipeline.pages import synthesize_pages

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    return (
        synthesize_pages(docs.filter("doc_id % 2 = 0")),
        synthesize_pages(docs.filter("doc_id % 2 = 1")),
        synthesize_pages(docs),
    )


def test_kg_state_on_file_uri_state_dir(spark, tmp_path):
    """The versioned-delta log resolves its state dir through the Hadoop
    FileSystem API: folding into a ``file://`` URI must see the parent
    versions (no bootstrap from empty per batch, so no colliding ids),
    converge to the batch build, and compact."""
    from ontoea_spark.pipeline.kg_build import build_kg
    from ontoea_spark.streaming.kg_stream import (
        compact_kg_state,
        decoded_edges,
        ingest_pages_batch,
        read_kg_state,
    )

    batch0, batch1, pages = _two_page_batches(spark)
    state = (tmp_path / "kg_state").as_uri()
    ingest_pages_batch(batch0, spark, state, 0)
    ingest_pages_batch(batch1, spark, state, 1)

    ent, rel, edges = read_kg_state(spark, state)
    got = {(r.s, r.p, r.o, r.kg) for r in decoded_edges(ent, rel, edges).collect()}
    batch = build_kg(pages)
    want = {
        (r.s, r.p, r.o, 1) for r in batch.triples1.distinct().collect()
    } | {(r.s, r.p, r.o, 2) for r in batch.triples2.distinct().collect()}
    assert got == want and len(got) > 0
    for d in (ent, rel):
        assert d.select("kg", "id").distinct().count() == d.count()

    assert compact_kg_state(spark, state) == 1


def test_kg_state_replay_is_idempotent(spark, tmp_path):
    """A crash-replayed KG batch re-reads only the versions below its own
    id and overwrites its own dir: dictionaries (ids included) and the
    decoded edges are unchanged by ingesting batch 1 a second time."""
    from ontoea_spark.streaming.kg_stream import (
        decoded_edges,
        ingest_pages_batch,
        read_kg_state,
    )

    batch0, batch1, _ = _two_page_batches(spark)
    state = str(tmp_path / "kg_state")

    def snapshot():
        ent, rel, edges = read_kg_state(spark, state)
        return (
            {tuple(r) for r in ent.collect()},
            {tuple(r) for r in rel.collect()},
            {tuple(r) for r in decoded_edges(ent, rel, edges).collect()},
        )

    ingest_pages_batch(batch0, spark, state, 0)
    ingest_pages_batch(batch1, spark, state, 1)
    once = snapshot()
    ingest_pages_batch(batch1, spark, state, 1)
    assert snapshot() == once and len(once[2]) > 0
