"""Checkpoint/resume + lineage metrics + spark-submit packaging
(north-rule requirements: resumable from checkpoint with per-partition
lineage + metrics; run via spark-submit --py-files)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from tests.conftest import REPO, SF_SMOKE

from pyspark.sql import functions as F


@pytest.fixture()
def pages(spark):
    from ontoea_spark.pipeline.pages import synthesize_pages

    return synthesize_pages(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    )


def test_checkpoint_resume_skips_completed_stages(spark, pages, tmp_path):
    from ontoea_spark.pipeline.checkpoint import (
        CheckpointManager,
        run_pipeline_checkpointed,
    )

    base = str(tmp_path / "cp")
    out1 = run_pipeline_checkpointed(spark, pages, base, partitions=4)
    edges1 = [tuple(r) for r in out1["edges"].orderBy("s_id", "p_id", "o_id", "kg").collect()]
    manifest1 = CheckpointManager(spark, base).manifest()
    assert set(manifest1["stages"]) >= {
        "pages_text", "triples", "ent_ids", "rel_ids", "edges", "vertices", "links",
    }
    # resume: a poisoned fn must NOT be invoked for a completed stage
    cp = CheckpointManager(spark, base)

    def boom():
        raise AssertionError("stage recomputed despite checkpoint")

    df = cp.run_stage("edges", boom)
    edges2 = [tuple(r) for r in df.orderBy("s_id", "p_id", "o_id", "kg").collect()]
    assert edges1 == edges2

    # partial resume: delete the last stage -> only it recomputes
    n_links = out1["links"].count()
    shutil.rmtree(os.path.join(base, "links"))
    m = cp.manifest()
    del m["stages"]["links"]
    cp._write_manifest(m)
    out2 = run_pipeline_checkpointed(spark, pages, base, partitions=4)
    assert out2["links"].count() == n_links


def test_partition_metrics_and_drop_accounting(spark, pages, tmp_path):
    from ontoea_spark.pipeline.checkpoint import run_pipeline_checkpointed

    base = str(tmp_path / "cp2")
    out = run_pipeline_checkpointed(spark, pages, base, partitions=4)
    cp = out["_manager"]
    pm = cp.all_partition_metrics()
    assert set(pm.columns) == {"part_id", "rows", "stage"}
    per_stage = {
        r.stage: r.total
        for r in pm.groupBy("stage").agg(F.sum("rows").alias("total")).collect()
    }
    assert per_stage["edges"] == out["edges"].count()
    assert per_stage["triples"] == out["triples"].count()
    st = cp.manifest()["stages"]["edges"]
    assert st["rows_in"] >= st["rows_out"] >= 0
    assert st["rows_dropped"] == st["rows_in"] - st["rows_out"]
    # dictionary coverage is total on this corpus: nothing silently dropped
    assert st["rows_dropped"] == 0


def test_spark_submit_pyfiles_job(tmp_path):
    """Real spark-submit --py-files run from OUTSIDE the repo (the cluster
    invocation path, local[4] master)."""
    from ontoea_spark.package_zip import build_zip

    zpath = build_zip(str(tmp_path / "ontoea_spark.zip"))
    cpdir = str(tmp_path / "cp3")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zpath,
            os.path.join(REPO, "run_job.py"),
            "--input", f"{SF_SMOKE}/documents.parquet",
            "--synth-from-documents",
            "--checkpoint-dir", cpdir,
            "--partitions", "4",
            # the optional alignment stage rides the same entry (tiny
            # budget — this asserts wiring, not quality)
            "--align", "--align-epochs", "4", "--align-dim", "8",
            "--align-batch", "4096", "--align-gradient-mode", "local_hash",
            # canonicalization on seeds + predicted matches (wiring, not
            # quality — the 4-epoch model's predictions just need to flow)
            "--canonicalize",
            # day-partitioned crawl-provenance product table
            "--provenance",
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    stats = json.loads(line)
    assert stats["edges"] > 0 and stats["links"] > 0
    assert os.path.exists(os.path.join(cpdir, "_manifest.json"))
    assert stats["align"]["n_ent"] > 0
    assert 0.0 <= stats["align"]["hits1"] <= 1.0
    assert stats["canonical"]["edges"] > 0
    assert stats["canonical"]["link_source"] == "align"
    # the bucketed graph-product tables were written under the checkpoint
    assert stats["canonical"]["tables"] == {
        "edges": "canonical_edges",
        "vertices": "canonical_vertices",
    }
    assert os.path.isdir(os.path.join(cpdir, "canonical_tables", "edges"))
    assert os.path.isdir(os.path.join(cpdir, "canonical_tables", "vertices"))
    # the provenance table landed day-partitioned (day_bucket= dirs)
    prov_dir = os.path.join(cpdir, "canonical_tables", "provenance")
    assert stats["canonical"]["provenance_path"] == prov_dir
    assert any(
        d.startswith("day_bucket=") for d in os.listdir(prov_dir)
    ), os.listdir(prov_dir)


def test_canonicalize_checkpointed_resume(spark, pages, tmp_path):
    """Canonical stages snapshot + resume like every other stage: merged
    counts line up with the gold links, and a completed canonical_edges
    is reloaded, never recomputed."""
    from ontoea_spark.pipeline.checkpoint import (
        CheckpointManager,
        run_canonicalize_checkpointed,
        run_pipeline_checkpointed,
    )

    base = str(tmp_path / "cpc")
    build = run_pipeline_checkpointed(spark, pages, base, partitions=4)
    canon = run_canonicalize_checkpointed(build, partitions=4)
    # every gold pair merges exactly one entity away (1:1 bipartite)
    assert canon["canonical_map"].count() == build["links"].count()
    edges1 = [
        tuple(r)
        for r in canon["canonical_edges"].orderBy("s_id", "p_id", "o_id").collect()
    ]
    assert edges1
    # canonical vertex count = pre-merge entities minus merged-away ones
    n_pre = (
        build["triples"].selectExpr("s AS e").unionAll(
            build["triples"].selectExpr("o AS e")
        ).distinct().count()
    )
    assert canon["canonical_vertices"].count() == n_pre - build["links"].count()

    cp = CheckpointManager(spark, base)

    def boom():
        raise AssertionError("canonical stage recomputed despite checkpoint")

    df = cp.run_stage(canon["_stage_names"]["canonical_edges"], boom)
    edges2 = [tuple(r) for r in df.orderBy("s_id", "p_id", "o_id").collect()]
    assert edges1 == edges2

    # DIFFERENT links on the same checkpoint dir must NOT reuse the old
    # snapshots: the link fingerprint names fresh stages, so the merge
    # actually reflects the new link set (regression: a stale
    # canonical_map was silently reloaded and mislabeled)
    from pyspark.sql import functions as F

    half_links = build["links"].orderBy("e1").limit(
        build["links"].count() // 2
    ).localCheckpoint(eager=True)
    canon2 = run_canonicalize_checkpointed(build, links=half_links, partitions=4)
    assert canon2["link_fingerprint"] != canon["link_fingerprint"]
    assert canon2["canonical_map"].count() == half_links.count()


@pytest.fixture(scope="module")
def completed(spark, tmp_path_factory):
    """One checkpointed build + gold-link canonicalization, run to
    completion on the smoke fixture."""
    from ontoea_spark.pipeline.checkpoint import (
        run_canonicalize_checkpointed,
        run_pipeline_checkpointed,
    )
    from ontoea_spark.pipeline.pages import synthesize_pages

    pages = synthesize_pages(spark.read.parquet(f"{SF_SMOKE}/documents.parquet"))
    base = str(tmp_path_factory.mktemp("cp_full") / "cp")
    build = run_pipeline_checkpointed(spark, pages, base, partitions=4)
    canon = run_canonicalize_checkpointed(build, partitions=4)
    return pages, base, build, canon


def test_checkpointed_build_matches_in_memory(completed):
    """The snapshot-materialized DAG (run_job.py's path) and the
    in-memory one (build_kg + canonicalize_kg) produce the same tables,
    dictionary ids included."""
    from ontoea_spark.pipeline.canonicalize import canonicalize_kg
    from ontoea_spark.pipeline.kg_build import build_kg

    pages, _base, build, canon = completed
    kg = build_kg(pages)
    ck = canonicalize_kg(kg.triples1, kg.triples2, kg.links)
    pairs = {
        "edges": (build["edges"], kg.edges),
        "ent_ids": (build["ent_ids"], kg.ent_ids),
        "rel_ids": (build["rel_ids"], kg.rel_ids),
        "vertices": (build["vertices"], kg.vertices),
        "links": (build["links"], kg.links),
        "canonical_edges": (canon["canonical_edges"], ck.edges),
        "canonical_vertices": (canon["canonical_vertices"], ck.vertices),
        "canonical_ent_ids": (canon["canonical_ent_ids"], ck.ent_ids),
        "canonical_rel_ids": (canon["canonical_rel_ids"], ck.rel_ids),
    }
    for name, (got, want) in pairs.items():
        # snapshots move a partition column to the end: compare by name
        rows = [
            sorted(tuple(r) for r in df.select(*want.columns).collect())
            for df in (got, want)
        ]
        assert rows[0], name
        assert rows[0] == rows[1], name


def test_full_resume_recomputes_nothing(spark, completed):
    """Re-running the build and the canonicalization on a completed
    directory reloads every stage: no manifest entry changes."""
    from ontoea_spark.pipeline.checkpoint import (
        CheckpointManager,
        run_canonicalize_checkpointed,
        run_pipeline_checkpointed,
    )

    pages, base, _build, canon = completed
    before = CheckpointManager(spark, base).manifest()
    assert set(canon["_stage_names"].values()) <= set(before["stages"])
    build = run_pipeline_checkpointed(spark, pages, base, partitions=4)
    run_canonicalize_checkpointed(build, partitions=4)
    assert CheckpointManager(spark, base).manifest() == before
