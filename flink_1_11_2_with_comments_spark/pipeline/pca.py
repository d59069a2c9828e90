"""Distributed PCA over the embedding corpus — covariance + power
iteration, expressed entirely in DataFrame ops.

The training-data use case: whitening / decorrelating an embedding
column before ANN indexing or dedup thresholding (PQ and IVF both
assume roughly isotropic residuals), and projecting onto the top
principal component for fast 1-D pre-filters. The reference's
equivalent surface is iterative DataSet algebra (DataSet.iterate,
flink-java/.../DataSet.java:1139 — the same superstep contract the
Gelly ops here run through: operators/graph._Loop).

Scale design (100 TB embeddings, dimension D):
- The DATA-heavy step is the Gram/covariance pass: each row computes
  its own D x D outer product ROW-LOCALLY (nested transform, no
  join), and one hash aggregate reduces the cells — the shuffle
  carries only map-side partials (<= partitions * D^2 rows,
  corpus-size-independent). The output is D^2 rows (4096 for D=64)
  — tiny — and is checkpointed ONCE before iteration; the superstep
  driver (operators/graph._Loop) owns that checkpoint and the
  per-round ones, and releases all but the final vector.
- Power iteration then touches ONLY the D^2-row matrix and a D-row
  vector per round: matrix-vector product as a join+groupBy, L2
  normalization as a 1-row aggregate broadcast back. Corpus data is
  never touched again; no driver-side eigensolver, no .collect().
- Every float reduction uses the DECIMAL-accumulate → round → double
  discipline (queries/_util.py), so covariance, iterates, and
  projections are bit-identical across partitionings and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the shared sizing guards now live in _sizing (one definition, one
# unknown-stats sentinel — the r14 advisor flagged three hand-copied
# variants of this guard); these aliases keep the established import
# surface (`from ..pipeline.pca import _widen_if_underparallel`)
# working for the query faces and tests that grew around it.
from .._sizing import _UNKNOWN_STATS  # noqa: F401  (re-export)
from .._sizing import widen_if_underparallel as _widen_if_underparallel

DEC = "decimal(30,14)"


def _dsum12(col):
    return F.round(F.sum(col.cast(DEC)), 12).cast("double")


def explode_embedding(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding) -> (vec_id, i, x) with 1-based positions
    (matching SQL generate_subscripts) and double-typed values."""
    return (emb.select("vec_id",
                       F.posexplode("embedding").alias("p", "xf"))
            .select("vec_id", (F.col("p") + 1).alias("i"),
                    F.col("xf").cast("double").alias("x")))


def covariance(emb: DataFrame, upper_only: bool = False) -> DataFrame:
    """Population covariance matrix of the embedding corpus:
    (i, j, cov), full D x D (or upper triangle for reporting).

    NO JOIN: each row computes its own D x D outer product ROW-LOCALLY
    (nested `transform` with indices), explodes to (i, j, xy, x, y)
    cells, and one hash aggregate reduces them. The oracle states the
    textbook exploded self-join; that form shuffles N*D rows by
    vec_id before it can pair — this form shuffles only the MAP-SIDE
    PARTIALS (at most partitions * D^2 rows, corpus-size-independent),
    which is the difference between a 100 TB shuffle and a kilobyte
    one. Every per-(i, j) statistic — sum(x*y), sum(x), sum(y), n —
    comes from the SAME single aggregation, so there is no mean-side
    join either. cov = E[xy] - E[x]E[y], each expectation exact via
    decimal accumulation, final value rounded to 12 dp (identical
    cell values to the join form: same products, order-independent
    decimal sums).
    """
    emb = _widen_if_underparallel(emb, "vec_id")
    cells = emb.select(F.explode(F.expr(
        "flatten(transform(embedding, (x, i) -> "
        "transform(embedding, (y, j) -> struct("
        "i + 1 AS i, j + 1 AS j, "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS xy, "
        "CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y))))"))
        .alias("c")).select("c.i", "c.j", "c.xy", "c.x", "c.y")
    s = (cells.groupBy("i", "j")
         .agg(F.round(F.sum(F.col("xy").cast(DEC)), 9)
              .cast("double").alias("sxy"),
              F.round(F.sum(F.col("x").cast(DEC)), 9)
              .cast("double").alias("sx"),
              F.round(F.sum(F.col("y").cast(DEC)), 9)
              .cast("double").alias("sy"),
              F.count("*").alias("n")))
    cov = s.select(
        "i", "j",
        F.round(F.col("sxy") / F.col("n")
                - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n")),
                12).alias("cov"))
    return cov.where(F.col("i") <= F.col("j")) if upper_only else cov


def power_top1(cov_full: DataFrame, rounds: int = 8) -> DataFrame:
    """Top principal component of the full covariance matrix by power
    iteration: v <- normalize(C v), `rounds` times from the uniform
    unit start 1/sqrt(D). Returns (i, v).

    Per round: one D^2 x D join + D-row aggregate (the mat-vec), one
    1-row L2 norm broadcast back. The rounds run through the one
    superstep driver (operators/graph._Loop, the DataSet.iterate
    contract): the matrix is checkpointed once as a loop-invariant
    frame the driver owns, each iterate's lineage is truncated, so
    round R never replays rounds 1..R-1, and on return only the final
    vector stays pinned. Each iterate rounds to 12 dp: the iteration
    is exactly reproducible on any cluster and in any SQL engine that
    unrolls the same rounds.

    Loop parallelism derives from the MATRIX's size, not the session
    shuffle width (the CC/HITS loop-width discipline, guide §2.2):
    the iteration never touches the corpus again, so its natural
    width is D^2-rows' worth of partitions — 1 locally, wider only
    for very high-dimensional matrices. Measured before the
    checkpoint (the checkpointed RDD reports the unknown sentinel).
    """
    from .._sizing import loop_width
    from ..operators.graph import _Loop, _superstep

    n_part = loop_width(cov_full)
    if n_part:
        cov_full = cov_full.repartition(n_part, "j")
    with _Loop() as loop:
        covf = loop.own(_superstep(cov_full))
        dims = covf.select("i").distinct()
        d1 = dims.agg(F.count("*").alias("d"))

        def step(v: DataFrame, _) -> DataFrame:
            vr = v.select(F.col("i").alias("j2"), F.col("v").alias("vj"))
            w = (covf.join(vr, covf.j == vr.j2)
                 .groupBy("i")
                 .agg(_dsum12(F.col("cov") * F.col("vj")).alias("w")))
            nrm = w.agg(
                F.round(F.sqrt(_dsum12(F.col("w") * F.col("w"))), 12)
                .alias("nrm"))
            return (w.crossJoin(F.broadcast(nrm))
                    .select("i", F.round(F.col("w") / F.col("nrm"), 12)
                            .alias("v")))

        return loop.run(
            dims.crossJoin(F.broadcast(d1))
            .select("i", (F.lit(1.0) / F.sqrt(F.col("d"))).alias("v")),
            step, rounds)


def project_top1(z: DataFrame, v: DataFrame, scale: int = 6) -> DataFrame:
    """Project every vector onto the component: (vec_id, pc1). The
    D-row component broadcasts; the corpus aggregates map-side."""
    vb = v.select(F.col("i").alias("vi"), F.col("v").alias("vv"))
    return (z.join(F.broadcast(vb), z.i == vb.vi)
            .groupBy("vec_id")
            .agg(F.round(F.sum((F.col("x") * F.col("vv")).cast(DEC)),
                         scale).cast("double").alias("pc1")))
