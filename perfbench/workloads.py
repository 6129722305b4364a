"""The benchmark workloads: one user-facing job each, run through the
package's public entry points.

A workload has four parts:

* ``setup`` generates the seeded inputs and writes them to parquet;
* ``warm_up`` (part of set-up) runs the job once on a small input, so
  the timed pass does not pay the JVM's JIT and code generation;
* ``run_pass`` is the timed part, input on disk -> complete outputs, with
  a span around every call into a layer;
* ``check`` (untimed) compares the outputs with the pure-Python
  recomputation in ``check.py``: one error string per failed check,
  None per passed one.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import re
import statistics
import time
from dataclasses import dataclass

import pyarrow.parquet as pq

import check
import gen

# the workloads BENCHMARK.json lists (align_merge is run by name only, see
# AlignMerge), and every layer the workloads' spans name, in report order;
# a traced run reports each of these layers on every workload (zero where
# the workload does not run it)
BENCHMARK = ("crawl_build", "stream_fold")
LAYERS = (
    "sources.tables.read",
    "pipeline.checkpoint.run_pipeline",
    "pipeline.extract",
    "operators.dictionary.build",
    "operators.dictionary.encode",
    "pipeline.kg_build.links",
    "pipeline.checkpoint.run_canonicalize",
    "pipeline.canonicalize.components",
    "pipeline.canonicalize.rewrite",
    "sources.tables.write",
    "streaming.kg_stream.ingest",
    "streaming.kg_stream.read",
    "streaming.kg_stream.compact",
    "training.align_pipeline.prepare",
    "training.trainer.fit",
    "training.align_pipeline.evaluate",
)
# layers whose spans carry the rows they wrote (checkpoint manifest or
# parquet footers, no Spark job)
ROWS_OUT_LAYERS = (
    "pipeline.extract",
    "operators.dictionary.build",
    "operators.dictionary.encode",
    "pipeline.kg_build.links",
    "pipeline.canonicalize.components",
    "pipeline.canonicalize.rewrite",
    "sources.tables.write",
    "streaming.kg_stream.ingest",
    "streaming.kg_stream.compact",
)
# layer cost metrics that are zero on every workload
ZERO_COSTS = (
    "pipeline.checkpoint.run_pipeline.shuffle_mb",
    "pipeline.checkpoint.run_canonicalize.shuffle_mb",
    "sources.tables.read.shuffle_mb",
    "sources.tables.write.shuffle_mb",
    "streaming.kg_stream.compact.shuffle_mb",
)

# checkpoint stage -> layer (canonical stage names carry a link-set
# fingerprint suffix, stripped before the lookup)
STAGE_LAYERS = {
    "pages_text": "pipeline.extract",
    "triples": "pipeline.extract",
    "dictionaries": "operators.dictionary.build",
    "ent_ids": "operators.dictionary.build",
    "rel_ids": "operators.dictionary.build",
    # the vertex table is a projection of the entity dictionary
    "vertices": "operators.dictionary.build",
    "canonical_ent_ids": "operators.dictionary.build",
    "canonical_rel_ids": "operators.dictionary.build",
    "edges": "operators.dictionary.encode",
    "canonical_edges": "operators.dictionary.encode",
    "links": "pipeline.kg_build.links",
    "canonical_map": "pipeline.canonicalize.components",
    "canonical_triples": "pipeline.canonicalize.rewrite",
    "canonical_vertices": "pipeline.canonicalize.rewrite",
}
_FP_SUFFIX = re.compile(r"_\d+_[0-9a-f]+$")


def stage_layer(stage: str) -> str:
    return STAGE_LAYERS[_FP_SUFFIX.sub("", stage)]


@dataclass
class Ctx:
    """What a workload needs from the run: the session, the tracer, a
    fresh directory, and the run-unique catalog table prefix."""

    spark: object
    tracer: object
    run_dir: str
    table_prefix: str
    partitions: int


@contextlib.contextmanager
def instrumented(tracer):
    """Wrap the layer calls that the timed code does not make itself —
    each checkpoint stage and each component computation — in spans.
    Installed only for traced runs and removed afterwards."""
    from ontoea_spark.pipeline import canonicalize as canon_mod
    from ontoea_spark.pipeline.checkpoint import CheckpointManager

    run_stage = CheckpointManager.run_stage
    entity_map = canon_mod.canonical_entity_map

    def traced_run_stage(self, stage, fn, *args, **kwargs):
        with tracer.span(stage_layer(stage), stage=stage) as s:
            out = run_stage(self, stage, fn, *args, **kwargs)
        with tracer.bookkeeping():
            s.attrs["rows_out"] = self.manifest()["stages"][stage]["rows"]
        return out

    def traced_entity_map(*args, **kwargs):
        with tracer.span(
            "pipeline.canonicalize.components",
            note="the returned map is lazy: its final filter runs in the "
            "caller's span",
        ):
            return entity_map(*args, **kwargs)

    CheckpointManager.run_stage = traced_run_stage
    canon_mod.canonical_entity_map = traced_entity_map
    try:
        yield
    finally:
        CheckpointManager.run_stage = run_stage
        canon_mod.canonical_entity_map = entity_map


def parquet_rows(path: str) -> int:
    """Row count from the parquet footers under ``path`` (no Spark job)."""
    n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.read_metadata(os.path.join(root, f)).num_rows
    return n


def dir_mb(path: str) -> float:
    """Bytes of the files under ``path``, in MiB."""
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    ) / 2**20


def _record_written(tracer, span, path: str) -> None:
    """Rows and bytes a traced span wrote under ``path``."""
    if span is not None:
        with tracer.bookkeeping():
            span.attrs["rows_out"] = parquet_rows(path)
            span.attrs["bytes_written_mb"] = dir_mb(path)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are ten samples or fewer."""
    xs = sorted(values)
    if len(xs) <= 10:
        return xs[-1], 100.0
    i = len(xs) - 11
    return xs[i], 100.0 * (i + 1) / len(xs)


def _pages(path: str) -> list[tuple]:
    return [
        (p["url"], p["warc_ts"], p["html"], p["text"], p["lang"])
        for p in pq.read_table(path).to_pylist()
    ]


def _decode_tables(spark, tables: dict, rel_ids) -> tuple[set, dict]:
    """Canonical (s, p, o) set and {uri: srcs} read back from the
    materialized catalog tables."""
    verts = {r.id: (r.uri, r.srcs) for r in spark.table(tables["vertices"]).collect()}
    rel = {r.id: r.elem for r in rel_ids.collect()}
    triples = {
        (verts[r.s_id][0], rel[r.p_id], verts[r.o_id][0])
        for r in spark.table(tables["edges"]).collect()
    }
    return triples, {uri: srcs for uri, srcs in verts.values()}


def _drop_tables(spark, tables: dict) -> None:
    """Drop catalog tables before their directories go, so no stale
    catalog entry outlives its path."""
    for name in tables.values():
        spark.sql(f"DROP TABLE IF EXISTS {name}")


class CrawlBuild:
    """``run_job.py --canonicalize`` minus argument parsing: checkpointed
    build, canonicalization on the build's gold links, materialized
    canonical tables."""

    name = "crawl_build"
    why = (
        "per-job overhead bound: run_job.py --canonicalize (checkpointed build, "
        "gold-link canonicalization, canonical tables) on fixture-shaped pages"
    )
    mix = gen.FIXTURE_MIX
    warmup_pages = 200

    def settings(self) -> dict:
        return {"pages": self.mix.as_dict(), "warmup_pages": self.warmup_pages}

    def setup(self, ctx: Ctx, seed: int) -> dict:
        rows = gen.page_rows(self.mix, seed)
        path = os.path.join(ctx.run_dir, "input", "pages")
        gen.write_pages(rows, os.path.join(path, "part-0.parquet"))
        return {"pages": path, "n_pages": len(rows)}

    def warm_up(self, ctx: Ctx, inputs: dict) -> None:
        path = os.path.join(ctx.run_dir, "input", "warmup")
        mix = dataclasses.replace(self.mix, n_pages=self.warmup_pages)
        gen.write_pages(gen.page_rows(mix, 0), os.path.join(path, "part-0.parquet"))
        quiet = dataclasses.replace(ctx, tracer=type(ctx.tracer)(None, "warmup", False))
        self.cleanup(ctx, self.run_pass(quiet, {"pages": path}, "warmup"))

    def run_pass(self, ctx: Ctx, inputs: dict, pass_no: int) -> dict:
        from ontoea_spark.pipeline.canonicalize import materialize_canonical
        from ontoea_spark.pipeline.checkpoint import (
            run_canonicalize_checkpointed,
            run_pipeline_checkpointed,
        )
        from ontoea_spark.sources.tables import read_pages

        sp, tr, n = ctx.spark, ctx.tracer, ctx.partitions
        cp_dir = os.path.join(ctx.run_dir, f"pass{pass_no}", "checkpoint")
        with tr.span("sources.tables.read"):
            pages = read_pages(sp, inputs["pages"])
        with tr.span("pipeline.checkpoint.run_pipeline"):
            build = run_pipeline_checkpointed(sp, pages, cp_dir, partitions=n)
        with tr.span("pipeline.checkpoint.run_canonicalize"):
            canon = run_canonicalize_checkpointed(build, partitions=n)
        tables_dir = os.path.join(cp_dir, "canonical_tables")
        with tr.span("sources.tables.write") as s:
            tables = materialize_canonical(
                canon["canonical_edges"],
                canon["canonical_vertices"],
                base_path=tables_dir,
                table_prefix=f"{ctx.table_prefix}_p{pass_no}",
                n_buckets=n,
            )
        _record_written(tr, s, tables_dir)
        return {"build": build, "canon": canon, "tables": tables}

    def check(self, ctx: Ctx, inputs: dict, out: dict) -> list[str | None]:
        want_edges = check.expected_edges(_pages(inputs["pages"]))
        b = out["build"]
        ent = {(r.kg, r.id): r.elem for r in b["ent_ids"].collect()}
        rel = {(r.kg, r.id): r.elem for r in b["rel_ids"].collect()}
        got_edges = {
            (ent[(r.kg, r.s_id)], rel[(r.kg, r.p_id)], ent[(r.kg, r.o_id)], r.kg)
            for r in b["edges"].collect()
        }
        links = check.gold_links(want_edges)
        got_links = {(r.e1, r.e2) for r in b["links"].collect()}
        want_canon, want_srcs = check.canonical_graph({e[:3] for e in want_edges}, links)
        got_canon, got_srcs = _decode_tables(
            ctx.spark, out["tables"], out["canon"]["canonical_rel_ids"]
        )
        return [
            check.compare("edges", got_edges, want_edges),
            check.compare("gold_links", got_links, links),
            check.compare("canonical_triples", got_canon, want_canon),
            check.compare("canonical_srcs", set(got_srcs.items()), set(want_srcs.items())),
        ]

    def report(self, out: dict) -> dict:
        return {}

    def cleanup(self, ctx: Ctx, out: dict) -> None:
        _drop_tables(ctx.spark, out["tables"])


class StreamFold:
    """Arrival-ordered micro-batches of pages folded one commit after
    another (the streaming build's foreachBatch body, one call per
    commit), with a snapshot read every few commits and compaction at a
    fixed interval. It is timed from a fresh JVM: the first commit pays
    the JIT warm-up a restarted stream pays."""

    name = "stream_fold"
    why = (
        "overhead bound: small page deltas commit one after another, with "
        "snapshot reads beside the writes and compaction of the growing state"
    )
    mix = dataclasses.replace(gen.FIXTURE_MIX, n_pages=1_200)
    batch_pages = 300
    read_every = 2
    compact_every = 3

    def settings(self) -> dict:
        return {
            "pages": self.mix.as_dict(), "batch_pages": self.batch_pages,
            "read_every": self.read_every, "compact_every": self.compact_every,
        }

    def setup(self, ctx: Ctx, seed: int) -> dict:
        rows = gen.page_rows(self.mix, seed)
        paths = []
        for b, i in enumerate(range(0, len(rows), self.batch_pages)):
            paths.append(os.path.join(ctx.run_dir, "input", f"batch{b:04d}"))
            gen.write_pages(
                rows[i:i + self.batch_pages], os.path.join(paths[-1], "part-0.parquet")
            )
        return {"batches": paths, "n_pages": len(rows)}

    def warm_up(self, ctx: Ctx, inputs: dict) -> None:
        pass

    def run_pass(self, ctx: Ctx, inputs: dict, pass_no: int) -> dict:
        from ontoea_spark.sources.tables import read_pages
        from ontoea_spark.streaming.kg_stream import (
            compact_kg_state,
            decoded_edges,
            ingest_pages_batch,
            read_kg_state,
        )

        sp, tr = ctx.spark, ctx.tracer
        state = os.path.join(ctx.run_dir, f"pass{pass_no}", "state")
        times: dict[str, list[float]] = {"commit": [], "read": [], "compact": []}
        for b, path in enumerate(inputs["batches"]):
            t = time.perf_counter()
            with tr.span("streaming.kg_stream.ingest", batch_id=b) as s:
                ingest_pages_batch(read_pages(sp, path), sp, state, b)
            times["commit"].append(time.perf_counter() - t)
            _record_written(tr, s, os.path.join(state, f"v{b}"))
            if (b + 1) % self.read_every == 0:
                t = time.perf_counter()
                with tr.span(
                    "streaming.kg_stream.read",
                    versions_scanned=len(os.listdir(state)),
                    note="read_kg_state and decoded_edges are lazy: the noop "
                    "write runs their jobs here",
                ):
                    decoded_edges(*read_kg_state(sp, state)).write.format(
                        "noop"
                    ).mode("overwrite").save()
                times["read"].append(time.perf_counter() - t)
            if (b + 1) % self.compact_every == 0:
                t = time.perf_counter()
                with tr.span("streaming.kg_stream.compact") as s:
                    v = compact_kg_state(sp, state)
                times["compact"].append(time.perf_counter() - t)
                _record_written(tr, s, os.path.join(state, f"v{v}"))
        return {"state": state, "times": times}

    def check(self, ctx: Ctx, inputs: dict, out: dict) -> list[str | None]:
        from ontoea_spark.streaming.kg_stream import decoded_edges, read_kg_state

        want = check.expected_edges([p for b in inputs["batches"] for p in _pages(b)])
        got = {
            (r.s, r.p, r.o, r.kg)
            for r in decoded_edges(*read_kg_state(ctx.spark, out["state"])).collect()
        }
        return [check.compare("folded_state", got, want)]

    def report(self, out: dict) -> dict:
        t = out["times"]
        commit_tail, pct = tail(t["commit"])
        return {
            "commits": len(t["commit"]),
            "commit_p50_s": statistics.median(t["commit"]),
            "commit_tail_s": commit_tail,
            "commit_tail_pct": pct,
            "snapshot_read_p50_s": statistics.median(t["read"]),
            "compact_s": statistics.median(t["compact"]),
        }

    def cleanup(self, ctx: Ctx, out: dict) -> None:
        pass


class AlignMerge:
    """Two generated KGs: prepare, store-tier training, candidate
    evaluation and the merge links (train seeds plus predicted test
    matches). Canonicalization and the canonical tables are left to
    crawl_build, which runs the same code.

    Run by name, not listed in BENCHMARK.json: a run takes 80-114 s on a
    4-core box (session start, then prepare, fit and evaluate at 28-40,
    17-25 and 21-28 s, almost all of it fixed per-job cost of a cold JVM),
    and a third workload must fit 22 runs of itself beside the other two
    in the benchmark's run budget of 70 runs in 3420 s."""

    name = "align_merge"
    why = (
        "no extraction: dictionary, encode, store-tier fit and blocked top-k "
        "evaluation of two generated KGs do all the work"
    )
    mix = gen.TwoKGMix(n_ent=300, n_rel=20, n_triples=2400)
    k_cand = 50
    # The epoch budget sets the fit's job count. One E2/E4/E5/E6 epoch
    # is the smallest schedule that still runs every store-tier step.
    train = dict(
        dim=32, epochs=1, sub_epoch=1, align_sub_epoch=1,
        onto_likelihood_epochs=1, batch_size=2048, seed=42,
        gradient_mode="spark", pool_mode="spark", param_store="spark",
    )

    def settings(self) -> dict:
        return {"two_kg": self.mix.as_dict(), "train": self.train, "k_cand": self.k_cand}

    def setup(self, ctx: Ctx, seed: int) -> dict:
        parts = gen.two_kg_parts(self.mix, seed)
        paths = {}
        for name, (cols, rows) in parts.items():
            paths[name] = os.path.join(ctx.run_dir, "input", name)
            gen.write_rows(cols, rows, os.path.join(paths[name], "part-0.parquet"))
        return {"paths": paths, "n_pages": 0}

    def warm_up(self, ctx: Ctx, inputs: dict) -> None:
        pass

    def run_pass(self, ctx: Ctx, inputs: dict, pass_no: int) -> dict:
        from ontoea_spark.training.align_pipeline import (
            evaluate_candidates,
            predict_matches,
            prepare_from_parts,
            seed_matches,
            train,
        )
        from ontoea_spark.training.trainer import TrainConfig

        sp, tr = ctx.spark, ctx.tracer
        with tr.span("sources.tables.read"):
            parts = {k: sp.read.parquet(p) for k, p in inputs["paths"].items()}
        with tr.span("training.align_pipeline.prepare"):
            data = prepare_from_parts(
                sp, parts["triples1"], parts["triples2"], parts["links"], parts["cv"]
            )
        with tr.span("training.trainer.fit"):
            model = train(data, TrainConfig(**self.train))
        # one candidate chain for the test split, shared by the metrics
        # and the match export, as run_job.py --align --canonicalize does
        cache: dict = {}
        with tr.span("training.align_pipeline.evaluate") as s:
            metrics = evaluate_candidates(
                sp, data, model, k_cand=self.k_cand, reranked_cache=cache
            ).collect()[0]
        if s is not None:
            s.attrs["hits1"] = metrics.hits1
        with tr.span(
            "training.align_pipeline.evaluate",
            note="predict_matches is lazy: the eager checkpoint of the "
            "merge links runs its jobs here",
        ):
            predicted = predict_matches(
                sp, data, model, splits=("test",), k_cand=self.k_cand,
                reranked_cache=cache,
            ).localCheckpoint(eager=True)
            merge = seed_matches(data).unionByName(predicted).localCheckpoint(eager=True)
        return {"metrics": metrics, "predicted": predicted, "merge": merge, "data": data}

    def check(self, ctx: Ctx, inputs: dict, out: dict) -> list[str | None]:
        def rows(name):
            return {tuple(r.values()) for r in pq.read_table(inputs["paths"][name]).to_pylist()}

        triples = rows("triples1") | rows("triples2")
        gold = rows("links")
        ents = {e for s, _p, o in triples for e in (s, o)} | {e for lk in gold for e in lk}
        merge = {(r.e1, r.e2) for r in out["merge"].collect()}
        predicted = {(r.e1, r.e2) for r in out["predicted"].collect()}
        bad = {
            (a, b) for a, b in merge
            if not (a.startswith("kg1:") and b.startswith("kg2:") and a in ents and b in ents)
        }
        splits = out["data"].links_split
        n_train = splits.filter("split = 'train'").count()
        n_test = splits.filter("split = 'test'").count()
        m = out["metrics"]
        # one predicted match per test entity, and Hits@1 is the share of
        # them that are gold links
        hits1 = len(predicted & gold) / n_test
        return [
            f"merge links outside the two KGs: {sorted(bad)[:3]}" if bad else None,
            None if len(merge & gold) >= n_train
            else f"{len(merge & gold)} gold merge links < {n_train} train seeds",
            None if len(predicted) == n_test
            else f"{len(predicted)} predicted matches for {n_test} test entities",
            None if 0.0 < m.mrr <= 1.0 and abs(m.hits1 - hits1) < 1e-6
            else f"metrics {m} disagree with the predicted matches' Hits@1 {hits1}",
        ]

    def report(self, out: dict) -> dict:
        m = out["metrics"]
        return {"hits1": m.hits1, "mrr": m.mrr}

    def cleanup(self, ctx: Ctx, out: dict) -> None:
        pass


WORKLOADS = {w.name: w for w in (CrawlBuild(), StreamFold(), AlignMerge())}
