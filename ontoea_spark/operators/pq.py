"""Product quantization (PQ) for ANN at memory scale — deterministic
end to end, composed with the IVF coarse quantizer into the classic
IVF-PQ (FAISS "IVFADC") search shape.

Why PQ at 100 TB: an exact corpus of 10^10 x dim-300 float64 vectors is
~24 TB of RAM-resident scan per query batch; PQ stores m small codes per
vector (here m codes into k-entry per-subspace codebooks — m*log2(k)
bits, a 100-1000x compression) and scores queries against codes with an
asymmetric distance computation (ADC): the query's exact subvectors
against the corpus's quantized cells, m table lookups + adds per
candidate instead of dim multiplies.

Residual encoding (the faithful FAISS IVFADC, codes quantizing
``v - coarse_centroid``) is available via ``residual=True`` on
:func:`ivfpq_topk_join` + :func:`residualize` for codebook training,
golden-tested against an independent NumPy transcription. The driver
query keeps ``residual=False`` (raw-vector codes) so the DuckDB oracle
replay stays independent of the coarse stage — a documented deviation
of the ORACLED configuration only, not of the operator surface.

Everything is deterministic and DuckDB-replayable: per-subspace
codebooks via :func:`ontoea_spark.operators.kmeans.kmeans_fit` (hash-
seeded init, fixed iterations, per-iteration ``round_to`` pinning),
code assignment argmin by (round(d2,12), cid), ADC from 9dp-rounded
per-subspace lookup entries summed in fixed subspace order.

Scale shape: codebooks are m*k rows (collected — they must broadcast
anyway); encoding is one broadcast join + per-(id, subspace) argmin;
candidate generation is the IVF cell equi-join (never all-pairs); ADC
scoring joins candidates to ONE code-array row per corpus vector and
ONE lut-array row per query, then computes the distance as a static
m-term ``element_at`` sum — a pure whole-stage-codegen projection with
no per-(pair, subspace) shuffle (a pivot-based form would shuffle
candidates x m rows through a groupBy; the array form shuffles only the
linear-size code/LUT tables, once). Nothing O(corpus) collects.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ontoea_spark.operators.kmeans import _d2


def subvectors(
    emb: DataFrame,
    m: int,
    dim: int,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """DataFrame[id, j, sv]: the vector split into ``m`` contiguous
    ``dim/m``-wide subspaces (j = 0..m-1). ``dim`` must divide evenly —
    mis-sliced subspaces would silently degrade recall, so raise."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    pairs = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("j"),
                F.slice(F.col(vec_col).cast("array<double>"), j * sub + 1, sub).alias(
                    "sv"
                ),
            )
            for j in range(m)
        ]
    )
    return emb.select(
        F.col(id_col).cast("long").alias("id"), F.explode(pairs).alias("p")
    ).select("id", F.col("p.j").alias("j"), F.col("p.sv").alias("sv"))


def pq_train_codebooks(
    emb: DataFrame,
    m: int,
    k: int,
    dim: int,
    n_iter: int = 2,
    id_col: str = "id",
    vec_col: str = "vec",
    round_to: int | None = 9,
) -> DataFrame:
    """Train one ``k``-entry codebook per subspace with the deterministic
    distributed Lloyd's. Returns DataFrame[j, cid, cvec] (m*k rows —
    driver-resident by necessity: every scoring step broadcasts it).

    All ``m`` chains run FUSED as one Lloyd's over (id, j, sv) rows with
    centroids keyed (j, cid): one assignment pass + one means collect
    per iteration for every subspace together, instead of m sequential
    ``kmeans_fit`` loops (m x fewer blocking driver round-trips — the
    dominant cost of training, since per-job data is tiny). Bit-equal to
    the per-subspace loops: the hash-ordered seed ids are the same for
    every j (the hash keys the id, not the subspace), and assignment /
    mean rounding are per-(j, cid) exactly as in ``kmeans_fit`` — the
    NumPy goldens and the per-subspace oracle CTE chains pin this."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    spark = emb.sparkSession

    # seed ids: smallest (portable_hash, id) — identical for every j, so
    # ONE collect of the k full vectors, sliced per subspace driver-side
    from ontoea_spark.functions.hashing import portable_hash64

    seed_rows = (
        emb.select(
            F.col(id_col).cast("long").alias("sid"),
            F.col(vec_col).cast("array<double>").alias("v"),
            portable_hash64(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h", "sid")
        .limit(k)
        .collect()
    )
    cents = {
        (j, cid): list(r.v[j * sub : (j + 1) * sub])
        for j in range(m)
        for cid, r in enumerate(seed_rows)
    }

    # no checkpoint of the subvector view: materializing it would pin an
    # O(corpus) intermediate; Lloyd's standard shape re-scans the input
    # per iteration (2 scans here), which is strictly cheaper than one
    # full materialization + 2 reads
    sv = subvectors(emb, m, dim, id_col, vec_col)
    m_expr = F.avg("val") if round_to is None else F.round(F.avg("val"), round_to)
    for _ in range(n_iter):
        cdf = spark.createDataFrame(
            [(j, cid, v) for (j, cid), v in sorted(cents.items())],
            "j int, cid long, cvec array<double>",
        )
        scored = sv.join(F.broadcast(cdf), "j").withColumn(
            "d2", F.round(_d2("sv", "cvec"), 12)
        )
        assigned = scored.groupBy("id", "j").agg(
            F.min(F.struct("d2", "cid", "sv")).alias("b")
        )
        # ONE per-dimension mean aggregate, assembled into centroid
        # vectors driver-side (m*k*sub rows — centroid-matrix sized):
        # the second groupBy+collect_list shuffle the old chain paid
        # bought nothing the driver can't do with a dict.
        means_rows = (
            assigned.select(
                "j",
                F.col("b.cid").alias("cid"),
                F.posexplode("b.sv").alias("pos", "val"),
            )
            .groupBy("j", "cid", "pos")
            .agg(m_expr.alias("m"))
            .collect()
        )
        acc: dict[tuple[int, int], dict[int, float]] = {}
        for r in means_rows:
            acc.setdefault((r.j, r.cid), {})[r.pos] = r.m
        # empty (j, cid) clusters keep their previous centroid
        for key, d in acc.items():
            cents[key] = [d[i] for i in range(sub)]
    return spark.createDataFrame(
        [(j, cid, v) for (j, cid), v in sorted(cents.items())],
        "j int, cid long, cvec array<double>",
    )


def residualize(
    df: DataFrame,
    cells: DataFrame,
    centroids: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """Replace each vector with its coarse residual ``v - centroid[cell]``
    (the FAISS IVFADC encoding input). ``cells``: DataFrame[id, cell];
    ``centroids``: DataFrame[cid, cvec] (broadcast — small by contract).
    Elementwise double subtraction — exact, engine-independent."""
    return (
        df.join(cells, df[id_col] == cells["id"], "inner")
        .drop(cells["id"])
        .join(F.broadcast(centroids), F.col("cell") == F.col("cid"))
        .select(
            F.col(id_col),
            F.zip_with(vec_col, "cvec", lambda a, b: a - b).alias(vec_col),
        )
    )


def ivfpq_topk_join(
    left: DataFrame,
    right: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int,
    m: int,
    dim: int,
    left_id: str = "id",
    left_vec: str = "vec",
    right_id: str = "id",
    right_vec: str = "vec",
    round_to: int = 6,
    residual: bool = False,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-PQ top-k: coarse centroid cells prune candidates (the IVF
    equi-join — identical cell assignment to
    :func:`ontoea_spark.operators.simjoin.ivf_topk_join`), then PQ ADC
    ranks survivors: the corpus side is represented ONLY by its m codes,
    the query side by its per-subspace lookup table against the
    codebooks. Returns DataFrame[lid, rid, adc_d2] (ascending distance
    top-k per lid, ties rid asc).

    ``nprobe``: the query probes its ``nprobe`` nearest cells (the same
    recall knob as :func:`~ontoea_spark.operators.simjoin.ivf_topk_join`
    — corpus rows stay in one cell, so (lid, rid) pairs never repeat).
    In raw mode the LUT is cell-independent and shared across probes;
    in residual mode the LUT is built PER PROBED CELL (FAISS semantics:
    the query residual subtracts the probed centroid, matching the
    candidate's encoding basis), so LUT cost scales with nprobe.

    ``residual=True`` is the faithful FAISS IVFADC: codes quantize the
    coarse residual ``v - centroid[cell]`` and the query LUT is built
    from the query's residual w.r.t. each probed cell. Pass codebooks
    trained on residualized input (:func:`residualize`) for a coherent
    quantizer.

    ADC determinism: each (query, subspace, code) lookup distance is
    rounded to 9dp; the m per-subspace terms are summed in fixed
    subspace order (a static left-to-right ``element_at`` expression,
    not an unordered SUM), and the total is rounded to ``round_to`` —
    bit-reproducible in any engine (the oracle's CASE-pivot sum adds
    the same 9dp values in the same j order).

    Plan shape: centroids and codebooks are collected once (both are
    driver-resident by contract — every scoring strategy broadcasts
    them); cell assignment, code assignment and the query LUT are
    per-row projections, not join+groupBy chains. The whole search is
    one equi-join on ``cell`` plus the final top-k window — the r5
    shape paid ~8 exchanges (two window cell-assignments, a two-stage
    encode, an explode+join+groupBy LUT, and a three-way candidate
    join).

    Distance evaluation is a HYBRID split chosen for bit-exactness
    (guide §4.2): the RAW squared distances are computed per batch in a
    NumPy kernel — ``cumsum(diff*diff)[-1]`` is the identical
    left-to-right float64 fold as the old per-element
    ``zip_with/aggregate`` (products are never -0.0, so the 0.0-init
    fold equals the first-element fold bitwise) — while every ROUNDING
    (HALF_UP ``round``) and tie-break stays in JVM expressions, because
    NumPy's scaled-multiply round is not decimal-exact. This removes
    the O(candidates × dim) interpreted higher-order-function work per
    row (measured 65 s for cell assignment alone at 20k vectors x 400
    centroids — identical cost in the r5 join shape) and leaves O(
    candidates) JVM work per row.
    """
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    lv = left.select(
        F.col(left_id).cast("long").alias("id"),
        F.col(left_vec).cast("array<double>").alias("vec"),
    )
    rv = right.select(
        F.col(right_id).cast("long").alias("id"),
        F.col(right_vec).cast("array<double>").alias("vec"),
    )
    cent_rows = sorted(
        (int(r["cid"]), [float(x) for x in r["cvec"]])
        for r in centroids.select("cid", "cvec").collect()
    )
    book_rows = sorted(
        (int(r["j"]), int(r["cid"]), [float(x) for x in r["cvec"]])
        for r in codebooks.select("j", "cid", "cvec").collect()
    )
    k_codes = len({cid for _, cid, _ in book_rows})
    books_by_j: dict[int, list[tuple[int, list[float]]]] = {}
    for j, cid, cv in book_rows:
        books_by_j.setdefault(j, []).append((cid, cv))
    if sorted(books_by_j) != list(range(m)) or any(
        [cid for cid, _ in books_by_j[j]] != list(range(k_codes))
        for j in range(m)
    ):
        raise ValueError("codebooks must cover j in [0,m) x cid in [0,k)")

    import pandas as pd
    from pyspark.sql import types as T

    C = len(cent_rows)
    cent_ids = [cid for cid, _ in cent_rows]
    cents_mat = np.array([cv for _, cv in cent_rows], dtype=np.float64)
    # book matrix in (j, cid) position order
    books_mat = np.array([cv for _, _, cv in book_rows], dtype=np.float64)
    cent_by_id = {cid: i for i, cid in enumerate(cent_ids)}

    def _raw_d2(V: np.ndarray, mat: np.ndarray, col_lo: int, col_hi: int) -> np.ndarray:
        """Raw squared distances of every batch row against every
        constant row of ``mat`` (over vector columns [col_lo, col_hi)) —
        cumsum is the identical left-to-right fold as the interpreted
        zip_with/aggregate (see docstring)."""
        out = np.empty((V.shape[0], mat.shape[0]))
        Vs = V[:, col_lo:col_hi]
        for i in range(mat.shape[0]):
            diff = Vs - mat[i]
            out[:, i] = np.cumsum(diff * diff, axis=1)[:, -1]
        return out

    def _book_d2(V: np.ndarray) -> np.ndarray:
        """(rows, m*k) raw book distances: subspace j's entries against
        the j-th slice of the vectors, in (j, cid) position order."""
        cols = [
            _raw_d2(V, books_mat[j * k_codes : (j + 1) * k_codes, :],
                    j * sub, (j + 1) * sub)
            for j in range(m)
        ]
        return np.concatenate(cols, axis=1)

    # no pd.Series annotations: module-level `from __future__ import
    # annotations` stringifies them and pandas_udf can't resolve the
    # function-local `pd`; annotation-free defaults to the scalar form
    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def raw_all(vec):
        V = np.stack(vec.to_numpy())
        out = np.concatenate([_raw_d2(V, cents_mat, 0, dim), _book_d2(V)], axis=1)
        return pd.Series(list(out))

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def raw_cent(vec):
        V = np.stack(vec.to_numpy())
        return pd.Series(list(_raw_d2(V, cents_mat, 0, dim)))

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def raw_book_residual(vec, cell):
        V = np.stack(vec.to_numpy())
        idx = np.array([cent_by_id[int(c)] for c in cell.to_numpy()])
        return pd.Series(list(_book_d2(V - cents_mat[idx])))

    # asNondeterministic: the kernels ARE deterministic, but the
    # optimizer otherwise substitutes the UDF expression into every
    # consumer when collapsing projections — the plan showed SIX
    # ArrowEvalPython nodes for two logical kernel passes (guide §4.4);
    # the marker pins one evaluation per side
    raw_all = raw_all.asNondeterministic()
    raw_cent = raw_cent.asNondeterministic()
    raw_book_residual = raw_book_residual.asNondeterministic()

    # JVM side: rounding + tie-breaks over the raw arrays — O(candidates)
    # interpreted work per row instead of O(candidates x dim). SQL built
    # as text (the py4j node-by-node construction measured ~6 s of
    # driver time for this operator — the r5 isin lesson).
    cid_arr = "array(" + ",".join(f"{cid}L" for cid in cent_ids) + ")"

    def cells_sql(raw_name: str, n_cells: int) -> str:
        """Top-``n_cells`` centroid cells by (round(d2,9), cid asc) —
        array_sort (or array_min for the single-cell case: O(C), not
        O(C log C) struct comparisons per row) is the same lexicographic
        order the r5 window used."""
        cands = (
            f"transform(sequence(1,{C}),i->struct("
            f"round(element_at({raw_name},i),9) AS cd2,"
            f"element_at({cid_arr},i) AS cid))"
        )
        if n_cells == 1:
            return f"array(array_min({cands}).cid)"
        return f"transform(slice(array_sort({cands}),1,{n_cells}),s->s.cid)"

    def codes_sql(raw_name: str, off: int) -> str:
        """m codes, each the argmin codebook entry by (round(d2,12),
        cid asc) — array_min over structs is the r5 min(struct) order.
        ``off``: index of the first book entry inside the raw array."""
        outs = []
        for j in range(m):
            cands = (
                f"transform(sequence(1,{k_codes}),c->struct("
                f"round(element_at({raw_name},{off + j * k_codes}+c),12) AS d2,"
                f"CAST(c-1 AS BIGINT) AS cid))"
            )
            outs.append(f"CAST(array_min({cands}).cid AS INT)")
        return "array(" + ",".join(outs) + ")"

    def lut_sql(raw_name: str, off: int) -> str:
        """m*k 9dp lookup entries in (j, cid) position order."""
        return f"transform(slice({raw_name},{off + 1},{m * k_codes}),d->round(d,9))"

    if residual:
        # corpus codes quantize v - centroid[cell]; the query LUT is
        # built PER PROBED CELL from the query's residual w.r.t. that
        # cell (FAISS IVFADC semantics) — a second kernel pass computes
        # the residual book distances given the JVM-chosen cell
        rq = (
            rv.select(
                F.col("id").alias("rid"),
                "vec",
                raw_cent(F.col("vec")).alias("rawc"),
            )
            .select(
                "rid",
                "vec",
                F.expr(f"element_at({cells_sql('rawc', 1)},1)").alias("cell"),
            )
            .select(
                "rid",
                "cell",
                raw_book_residual(F.col("vec"), F.col("cell")).alias("rawb"),
            )
            .select("rid", "cell", F.expr(codes_sql("rawb", 0)).alias("codes"))
        )
        lq = (
            lv.select(
                F.col("id").alias("lid"),
                "vec",
                raw_cent(F.col("vec")).alias("rawc"),
            )
            .select(
                "lid",
                "vec",
                F.explode(F.expr(cells_sql("rawc", nprobe))).alias("cell"),
            )
            .select(
                "lid",
                "cell",
                raw_book_residual(F.col("vec"), F.col("cell")).alias("rawb"),
            )
            .select("lid", "cell", F.expr(lut_sql("rawb", 0)).alias("lut"))
        )
    else:
        rq = rv.select(
            F.col("id").alias("rid"), raw_all(F.col("vec")).alias("raw")
        ).select(
            "rid",
            F.expr(f"element_at({cells_sql('raw', 1)},1)").alias("cell"),
            F.expr(codes_sql("raw", C)).alias("codes"),
        )
        # raw-mode LUT is cell-independent: computed once per query row,
        # before the probe explode
        lq = lv.select(
            F.col("id").alias("lid"), raw_all(F.col("vec")).alias("raw")
        ).select(
            "lid",
            F.expr(lut_sql("raw", C)).alias("lut"),
            F.explode(F.expr(cells_sql("raw", nprobe))).alias("cell"),
        )

    # fixed-subspace-order sum as a static projection: lut is 1-indexed,
    # entry for (j, code) sits at j*k + code + 1 — no per-pair shuffle
    adc = reduce(
        lambda a, b: a + b,
        [
            F.element_at(
                "lut", (F.lit(j * k_codes) + F.element_at("codes", j + 1) + 1)
            )
            for j in range(m)
        ],
    )
    scored = lq.join(rq, "cell").select(
        "lid", "rid", F.round(adc, round_to).alias("adc_d2")
    )
    w = Window.partitionBy("lid").orderBy(F.col("adc_d2").asc(), F.col("rid").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )
