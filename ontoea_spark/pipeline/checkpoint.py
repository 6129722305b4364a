"""Checkpoint-based resumability + per-partition lineage/metrics
(BASELINE.json north rule; SURVEY.md §2.13/§4 — the reference's closest
analogue is the HDF5 conflict-matrix cache, check.py:94-99).

One DAG, two ways to materialize it: ``kg_build._construct`` and
``canonicalize._canonicalize`` compose the construction and the
canonicalization DAG once, stage by stage, and a materializer decides
what each stage becomes. :class:`_InMemory` keeps stages in the session
(``build_kg``, ``canonicalize_kg``); :class:`_Snapshots` writes each one
through :meth:`CheckpointManager.run_stage`
(:func:`run_pipeline_checkpointed`, :func:`run_canonicalize_checkpointed`,
which add only the link fingerprint and drop metrics).

Model: every checkpointed stage materializes to parquet under
``<base>/<stage>/`` and appends a manifest entry
(``<base>/_manifest.json``) recording row count, schema, partition
count, and wall seconds. On re-run, a stage whose manifest entry exists
and whose parquet is readable is *skipped* — the DataFrame is reloaded
from the snapshot, so a killed job resumes at the first incomplete
stage. Manifest writes are atomic (tmp file + rename).

Lineage/metrics: :func:`with_partition_metrics` materializes a
per-partition row-count table for a stage (spark_partition_id groupBy —
one tiny shuffle over already-computed data);
:func:`drop_metrics` records rows dropped by inner-join dictionary
encoding (the reference drops silently, read.py:135-136 — we count).
Metrics land in ``<base>/_metrics/<stage>/`` as parquet.
"""

from __future__ import annotations

import json
import posixpath
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class _HadoopFS:
    """Driver-side filesystem IO through the Hadoop FileSystem API, so
    manifest/_SUCCESS bookkeeping works against whatever scheme the
    checkpoint dir lives on (file://, hdfs://, s3a://, ...) — the same
    resolution ``df.write.parquet`` uses. Plain ``os`` calls here would
    silently break resume on any non-local base_dir (always-False
    is_complete + a literal local './hdfs:...' manifest directory)."""

    def __init__(self, spark: SparkSession, base: str):
        jvm = spark._jvm
        self._jvm = jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = jvm.org.apache.hadoop.fs.Path(base).getFileSystem(self._conf)

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._path(p)))

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._path(p))

    def read_text(self, p: str) -> str:
        stream = self._fs.open(self._path(p))
        try:
            ioutils = self._jvm.org.apache.commons.io.IOUtils
            charset = self._jvm.java.nio.charset.StandardCharsets.UTF_8
            return ioutils.toString(stream, charset)
        finally:
            stream.close()

    def write_text_atomic(self, p: str, text: str) -> None:
        tmp = p + ".tmp"
        stream = self._fs.create(self._path(tmp), True)
        try:
            stream.write(bytearray(text.encode("utf-8")))
        finally:
            stream.close()
        # rename onto the final name (delete-then-rename: HDFS rename
        # does not overwrite)
        self.delete(p)
        self.rename(tmp, p)

    def listdir(self, p: str) -> list[str]:
        statuses = self._fs.listStatus(self._path(p))
        return [st.getPath().getName() for st in statuses]

    def delete(self, p: str) -> None:
        """Remove a file or a whole directory tree; a missing path is a
        no-op."""
        self._fs.delete(self._path(p), True)

    def rename(self, src: str, dst: str) -> None:
        # FileSystem.rename reports most failures as False, not an error
        if not self._fs.rename(self._path(src), self._path(dst)):
            raise OSError(f"rename {src} -> {dst} failed")

    def is_dir(self, p: str) -> bool:
        return self.exists(p) and bool(self._fs.getFileStatus(self._path(p)).isDirectory())


class CheckpointManager:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir
        self.fs = _HadoopFS(spark, base_dir)
        self.fs.mkdirs(base_dir)
        self._manifest_path = posixpath.join(base_dir, "_manifest.json")

    # -- manifest ---------------------------------------------------------
    def manifest(self) -> dict:
        if self.fs.exists(self._manifest_path):
            return json.loads(self.fs.read_text(self._manifest_path))
        return {"stages": {}}

    def _write_manifest(self, m: dict) -> None:
        self.fs.write_text_atomic(
            self._manifest_path, json.dumps(m, indent=1, sort_keys=True)
        )

    def is_complete(self, stage: str) -> bool:
        entry = self.manifest()["stages"].get(stage)
        if not entry:
            return False
        return self.fs.exists(
            posixpath.join(self.base, stage, "_SUCCESS")
        )

    # -- stages -----------------------------------------------------------
    def stage_path(self, stage: str) -> str:
        return posixpath.join(self.base, stage)

    def run_stage(
        self,
        stage: str,
        fn: Callable[[], DataFrame],
        partition_by: str | None = None,
        repartition: tuple[int, str] | None = None,
    ) -> DataFrame:
        """Compute-or-reload one stage. ``fn`` is only invoked when the
        stage has no completed snapshot (resume skips it entirely)."""
        path = self.stage_path(stage)
        if self.is_complete(stage):
            return self.spark.read.parquet(path)
        t0 = time.perf_counter()
        df = fn()
        if repartition is not None:
            n, key = repartition
            df = df.repartition(n, key)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(path)
        out = self.spark.read.parquet(path)
        n_rows = out.count()
        self._record_partition_metrics(stage, out)
        m = self.manifest()
        m["stages"][stage] = {
            "rows": n_rows,
            "schema": out.schema.simpleString(),
            "seconds": round(time.perf_counter() - t0, 3),
            "completed_unix": int(time.time()),
        }
        self._write_manifest(m)
        return out

    # -- lineage / metrics --------------------------------------------------
    def _metrics_path(self, stage: str) -> str:
        return posixpath.join(self.base, "_metrics", stage)

    def _record_partition_metrics(self, stage: str, df: DataFrame) -> None:
        pm = (
            df.withColumn("part_id", F.spark_partition_id())
            .groupBy("part_id")
            .agg(F.count("*").alias("rows"))
            .withColumn("stage", F.lit(stage))
        )
        pm.write.mode("overwrite").parquet(self._metrics_path(stage))

    def record_drop_metrics(
        self, stage: str, rows_in: int, rows_out: int
    ) -> None:
        """Silent-filter accounting (P4/P5 inner-join drops)."""
        m = self.manifest()
        entry = m["stages"].setdefault(stage, {})
        entry["rows_in"] = rows_in
        entry["rows_out"] = rows_out
        entry["rows_dropped"] = rows_in - rows_out
        self._write_manifest(m)

    def partition_metrics(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._metrics_path(stage))

    def all_partition_metrics(self) -> DataFrame:
        base = posixpath.join(self.base, "_metrics")
        stages = [
            s for s in self.fs.listdir(base)
            if self.fs.is_dir(posixpath.join(base, s))
        ]
        dfs = [self.partition_metrics(s) for s in sorted(stages)]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out


class _InMemory:
    """Materialize a DAG's stages inside the session (``build_kg``,
    ``canonicalize_kg``). A stage stays a lazy plan unless the DAG marks
    it ``keep``: 'lazy' localCheckpoints it on first use (its
    materializing action follows right away, or its consumers run one
    after another), 'eager' materializes it at once (it fans out into
    several branches of one job, where a lazy checkpoint is recomputed
    per branch). Sink layout only applies to snapshots; row counts for
    broadcast gates cost a job."""

    def stage(self, name, fn, keep=None, partition_by=None, cluster_by=None):
        df = fn()
        return df if keep is None else df.localCheckpoint(eager=keep == "eager")

    def rows(self, name: str, df: DataFrame) -> int:
        return df.count()

    def group_rows(
        self, frame: Callable[[], DataFrame], col: str, stages: dict[str, str]
    ) -> list[int]:
        """Row counts of the stages that split ``frame()`` by ``col``
        value (``stages``: value -> stage name), from one aggregate."""
        n = {r[col]: r["count"] for r in frame().groupBy(col).count().collect()}
        return [n.get(v, 0) for v in stages]


class _Snapshots:
    """Materialize every stage as a resumable parquet snapshot through
    :meth:`CheckpointManager.run_stage`, under ``<stage><suffix>``. A
    stage with a ``cluster_by`` key is hash-repartitioned on it into
    ``partitions`` files. Row counts come from the manifest, so broadcast gates and drop
    metrics cost no job, and a resume of completed stages computes
    nothing."""

    def __init__(self, cp: CheckpointManager, partitions: int, suffix: str = ""):
        self.cp = cp
        self.partitions = partitions
        self.suffix = suffix

    def name(self, stage: str) -> str:
        return stage + self.suffix

    def stage(self, name, fn, keep=None, partition_by=None, cluster_by=None):
        return self.cp.run_stage(
            self.name(name),
            fn,
            partition_by=partition_by,
            repartition=None if cluster_by is None else (self.partitions, cluster_by),
        )

    def rows(self, name: str, df: DataFrame | None = None) -> int:
        return self.cp.manifest()["stages"][self.name(name)]["rows"]

    def group_rows(
        self, frame: Callable[[], DataFrame], col: str, stages: dict[str, str]
    ) -> list[int]:
        return [self.rows(s) for s in stages.values()]

    def record_drops(self, source: str, encoded: str) -> None:
        """Drop metrics of the encode stage ``encoded`` against the
        triple stage ``source`` it encodes, recorded once."""
        stage = self.name(encoded)
        if "rows_dropped" not in self.cp.manifest()["stages"][stage]:
            self.cp.record_drop_metrics(
                stage, rows_in=self.rows(source), rows_out=self.rows(encoded)
            )


def run_pipeline_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    base_dir: str,
    partitions: int = 32,
) -> dict[str, DataFrame]:
    """The KG-construction DAG (``kg_build``) with every stage a
    resumable parquet snapshot:

        pages_text -> triples -> dictionaries -> ent_ids/rel_ids
        -> edges -> vertices/links

    Each stage reloads from its snapshot on resume; edges are
    repartitioned by s_id and partitioned by kg at the sink (co-located
    adjacency scans downstream — the Iceberg-shaped layout).
    """
    from ontoea_spark.pipeline.kg_build import _construct

    cp = CheckpointManager(spark, base_dir)
    snap = _Snapshots(cp, partitions)
    out = _construct(pages, snap)
    snap.record_drops("triples", "edges")
    del out["dictionaries"]
    return {**out, "_manager": cp}


def run_canonicalize_checkpointed(
    build: dict,
    links: DataFrame | None = None,
    partitions: int = 32,
) -> dict[str, DataFrame]:
    """The canonicalization DAG (``pipeline/canonicalize.py``) as
    resumable stages on top of a completed
    :func:`run_pipeline_checkpointed` build:

        canonical_map -> canonical_triples -> canonical dictionaries
        -> canonical_edges (s_id-repartitioned) / canonical_vertices

    ``links``: the (e1, e2) pair table to merge on — the build's own
    gold links by default, or predicted matches from the alignment
    stage (align_pipeline.predict_matches) plus train seeds. Each stage
    reloads from its snapshot on resume, so a killed canonicalization
    resumes without re-running the build OR the component iteration.

    Stage names carry a FINGERPRINT of the link set (row count + an
    order-independent content hash, one O(|links|) aggregate): a resume
    with the SAME links reloads snapshots, but re-running the same
    checkpoint dir with DIFFERENT links (e.g. gold first, then
    ``--align`` predictions) gets fresh stages instead of silently
    reusing a canonical graph built from the other link set.
    """
    from ontoea_spark.functions.hashing import portable_hash64
    from ontoea_spark.pipeline.canonicalize import _canonicalize

    cp: CheckpointManager = build["_manager"]
    if links is None:
        links = build["links"]

    fp_row = links.agg(
        F.count("*").alias("n"),
        F.sum(portable_hash64(F.concat_ws("\t", "e1", "e2"))).alias("h"),
    ).first()
    fp = f"{fp_row['n']}_{(fp_row['h'] or 0) & 0xFFFFFFFFFFFF:x}"

    snap = _Snapshots(cp, partitions, suffix=f"_{fp}")
    out = _canonicalize(build["triples"].select("s", "p", "o"), links, snap)
    snap.record_drops("canonical_triples", "canonical_edges")
    return {
        **out,
        "link_fingerprint": fp,
        "_stage_names": {n: snap.name(n) for n in out},
        "_manager": cp,
    }
