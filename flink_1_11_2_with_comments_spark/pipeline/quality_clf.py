"""Distributed quality-classifier training — the CCNet/GPT-3-style
learned quality filter, trained as DataFrame aggregates.

The standard pretraining-data pipeline step this suite's heuristics
(Gopher rules, bigram-LM perplexity) approximate without learning: a
logistic-regression classifier over hashed bag-of-words features that
separates a target domain (here lang='en', as in the DSIR setup —
a curated quality corpus in production) from the raw pool, then a
map-only broadcast scorer ranks every document.

Reference parity: the reference's equivalent surface is iterative
DataSet algebra (DataSet.iterate, flink-java/.../DataSet.java:1139 —
the same superstep loop its linear-regression and ALS examples use,
flink-examples-batch/.../LinearRegression.java:60). The architecture
here is the PCA/DSIR precedent (pipeline/pca.py, streaming/dsir.py):
every iterate is decimal-rounded so a SQL engine that unrolls the
same rounds replays the training bit-exactly.

Training math (batch gradient descent, full-batch logistic):
    x_b      = c_b / n_tokens   for the D=32 hashed token buckets,
    x_D      = 1                the intercept feature,
    m^(k)    = round9( sum_b dec14( x_b * w_b^(k) ) )
    p^(k)    = round9( 1 / (1 + exp(-m^(k))) )
    g_b^(k)  = round9( sum_docs dec14( (y - p^(k)) * x_b ) )
    w^(k+1)  = round12( w^(k) + lr * g_b^(k) / n_docs )
Every reduction accumulates in DECIMAL (order-independent across
partitionings); products/quotients of bit-equal doubles are IEEE-
deterministic, so the whole iteration is engine-exact. exp() is the
one libm call — its argument is pre-rounded to 9 dp so both engines
evaluate it on identical doubles (the F.log precedent from DSIR).

Scale (100 TB corpus):
- The corpus pays ONE token-level shuffle total: explode collapses
  map-side to per-(doc, bucket) counts; the feature table (docs x
  <=33 rows) is cached ONCE and every iteration touches only it; the
  superstep driver (operators/graph._Loop) owns that cache and the
  per-round weight checkpoints, and releases all but the final
  weights.
- Per iteration: one broadcast join of the 33-row weight vector +
  one per-doc aggregate (the margins) + one per-bucket aggregate
  (the gradient, 33 output rows). Nothing is ever collected; the
  driver holds no state during training.
- Scoring is map-only: the 33-row weight table broadcasts; Arrow-
  batched mapInPandas scores streams and batches identically.
"""

from __future__ import annotations

import decimal
import hashlib
import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_BUCKETS = 32          # hashed token features; feature N_BUCKETS is
INTERCEPT = N_BUCKETS   # the intercept (x = 1 for every document)
LR = 2.0                # power of two: lr * g is an exact scaling
DEC14 = "decimal(30,14)"

_Q14 = decimal.Decimal("1e-14")
_Q9 = decimal.Decimal("1e-9")


def doc_features(docs: DataFrame, target_lang: str = "en") -> DataFrame:
    """(doc_id, b, x, y, n_tokens): normalized hashed-token features
    plus the intercept row per document. One explode + one hash
    aggregate; map-side partial aggregation collapses the token
    stream before the only shuffle."""
    from .dedup import md5_int_expr

    tb = (docs.select("doc_id", "lang",
                      F.explode(F.split("text", " ")).alias("tokn"))
          .withColumn("b", md5_int_expr(F.col("tokn")) % N_BUCKETS)
          .groupBy("doc_id", "lang", "b")
          .agg(F.count("*").alias("c")))
    nd = (tb.groupBy("doc_id", "lang")
          .agg(F.sum("c").cast("bigint").alias("n_tokens")))
    y = F.when(F.col("lang") == target_lang, 1.0).otherwise(0.0)
    feat = (tb.join(nd.select("doc_id", "n_tokens"), "doc_id")
            .select("doc_id", "b",
                    (F.col("c") * 1.0 / F.col("n_tokens")).alias("x")))
    icept = nd.select("doc_id", F.lit(INTERCEPT).alias("b"),
                      F.lit(1.0).alias("x"))
    labels = nd.select("doc_id", y.alias("y"), "n_tokens")
    return feat.unionByName(icept).join(labels, "doc_id")


def logreg_fit(docs: DataFrame, rounds: int = 3,
               target_lang: str = "en") -> DataFrame:
    """Train the classifier; returns the (feature, weight) table —
    N_BUCKETS + 1 rows. Deterministic: any cluster, any partitioning,
    and the unrolled SQL oracle all produce identical weights."""
    from ..operators.graph import _Loop

    # persist, not localCheckpoint: xt is CONSTANT across rounds (only
    # w iterates, and w gets its own per-round checkpoint from the
    # driver), so the plan cannot grow — and persist keeps the
    # repartition's HashPartitioning(doc_id) visible to the optimizer,
    # which a checkpoint's LogicalRDD drops. With xt pre-partitioned by
    # doc_id, each round's margin groupBy(doc_id) AND the gradient's
    # xt-join-p on doc_id are exchange-free; the only per-round
    # shuffles left are the 4097-row weight/gradient tables. The
    # driver owns the cache and releases it once the weights are
    # materialized.
    par = docs.sparkSession.sparkContext.defaultParallelism
    with _Loop() as loop:
        xt = loop.own(doc_features(docs, target_lang)
                      .repartition(par, "doc_id").persist())
        n_docs = xt.select("doc_id").distinct().count()

        def step(w: DataFrame, _) -> DataFrame:
            wb = F.broadcast(w.select(F.col("b").alias("wb"),
                                      F.col("w").alias("wv")))
            m = (xt.join(wb, xt.b == F.col("wb")).groupBy("doc_id")
                 .agg(F.round(F.sum((F.col("x") * F.col("wv")).cast(DEC14)),
                              9).cast("double").alias("m"),
                      F.first("y").alias("y")))
            p = m.select("doc_id", F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m"))), 9).alias("p"),
                "y")
            g = (xt.join(p.select("doc_id", "p", F.col("y").alias("yy")),
                         "doc_id")
                 .groupBy("b")
                 .agg(F.round(F.sum(((F.col("yy") - F.col("p"))
                                     * F.col("x")).cast(DEC14)), 9)
                      .cast("double").alias("g")))
            return w.join(g, "b", "left").select("b", F.round(
                F.col("w") + F.lit(LR) * F.coalesce(F.col("g"), F.lit(0.0))
                / F.lit(float(n_docs)), 12).alias("w"))

        w = loop.run(docs.sparkSession.range(N_BUCKETS + 1).select(
            F.col("id").cast("int").alias("b"), F.lit(0.0).alias("w")),
            step, rounds)
    return w.select(F.col("b").cast("bigint").alias("feature"),
                    F.col("w").alias("weight"))


def oracle_fit_sql(rounds: int = 3, target_lang: str = "en") -> str:
    """The unrolled DuckDB replay of logreg_fit — identical rounds,
    identical rounding at every step."""
    md5i = "CAST(concat('0x', substring(md5(tokn), 1, 15)) AS BIGINT)"
    ctes = [f"""tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tokn
      FROM documents
    ), tb AS (
      SELECT doc_id, lang, {md5i} % {N_BUCKETS} AS b, COUNT(*) AS c
      FROM tok GROUP BY 1, 2, 3
    ), nd AS (
      SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS n_tokens
      FROM tb GROUP BY 1, 2
    ), xt AS (
      SELECT tb.doc_id, tb.b, tb.c * 1.0 / nd.n_tokens AS x,
             CASE WHEN nd.lang = '{target_lang}' THEN 1.0 ELSE 0.0
               END AS y
      FROM tb JOIN nd USING (doc_id)
      UNION ALL
      SELECT doc_id, {INTERCEPT} AS b, 1.0 AS x,
             CASE WHEN lang = '{target_lang}' THEN 1.0 ELSE 0.0 END
      FROM nd
    ), ndocs AS (
      SELECT COUNT(DISTINCT doc_id) AS n FROM xt
    ), w0 AS (
      SELECT CAST(unnest(range({N_BUCKETS + 1})) AS INT) AS b,
             0.0 AS w
    )"""]
    for k in range(1, rounds + 1):
        ctes.append(f"""m{k} AS (
      SELECT xt.doc_id,
             CAST(ROUND(SUM(CAST(xt.x * w{k - 1}.w AS DECIMAL(30,14))),
                        9) AS DOUBLE) AS m,
             MIN(xt.y) AS y
      FROM xt JOIN w{k - 1} ON xt.b = w{k - 1}.b
      GROUP BY 1
    ), p{k} AS (
      SELECT doc_id, ROUND(1.0 / (1.0 + EXP(-m)), 9) AS p, y
      FROM m{k}
    ), g{k} AS (
      SELECT xt.b,
             CAST(ROUND(SUM(CAST((p{k}.y - p{k}.p) * xt.x
                                 AS DECIMAL(30,14))), 9) AS DOUBLE)
               AS g
      FROM xt JOIN p{k} USING (doc_id)
      GROUP BY 1
    ), w{k} AS (
      SELECT w{k - 1}.b,
             ROUND(w{k - 1}.w + {LR} * COALESCE(g{k}.g, 0.0)
                   / (SELECT n * 1.0 FROM ndocs), 12) AS w
      FROM w{k - 1} LEFT JOIN g{k} ON w{k - 1}.b = g{k}.b
    )""")
    return ("WITH " + ",\n    ".join(ctes)
            + f"\n    SELECT CAST(b AS BIGINT) AS feature, w AS weight"
              f" FROM w{rounds}")


def oracle_score_sql(rounds: int = 3, target_lang: str = "en") -> str:
    """Unrolled oracle for the broadcast scorer: the fit CTEs plus
    the final margin/probability/prediction per document."""
    fit = oracle_fit_sql(rounds, target_lang)
    head = fit[:fit.rindex("\n    SELECT")]
    return head + f""",
    wm AS (
      SELECT xt.doc_id,
             CAST(ROUND(SUM(CAST(xt.x * w{rounds}.w
                                 AS DECIMAL(30,14))), 9) AS DOUBLE)
               AS score
      FROM xt JOIN w{rounds} ON xt.b = w{rounds}.b
      GROUP BY 1
    )
    SELECT wm.doc_id, nd.n_tokens, wm.score,
           ROUND(1.0 / (1.0 + EXP(-wm.score)), 9) AS prob,
           CAST(CASE WHEN 1.0 / (1.0 + EXP(-wm.score)) > 0.5
                     THEN 1 ELSE 0 END AS BIGINT) AS pred
    FROM wm JOIN nd USING (doc_id)"""


def quality_fit(docs: DataFrame, rounds: int = 3,
                target_lang: str = "en") -> dict[int, float]:
    """Offline fit -> broadcast state: the 33-row weight table as a
    dict (bounded toPandas, the dsir_fit precedent — this is the
    BroadcastProcessFunction control-side, never corpus data)."""
    pdf = logreg_fit(docs, rounds, target_lang).toPandas()
    if len(pdf) == 0:
        raise ValueError("quality_fit: empty corpus — nothing to fit")
    return {int(r.feature): float(r.weight) for r in pdf.itertuples()}


def _bucket(token: str) -> int:
    return int(hashlib.md5(token.encode()).hexdigest()[:15],
               16) % N_BUCKETS


def quality_score_stream(docs: DataFrame, weights: dict[int, float],
                         doc_id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Map-only broadcast scorer; batch/stream-agnostic (mapInPandas
    carries no state, needs no watermark). Replicates the relational
    margin bit-exactly: double products quantized to 14 dp, decimal
    sum, HALF_UP rounds — the dsir_score_stream discipline."""

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf[doc_id_col], pdf[text_col]):
                toks = text.split(" ")
                counts: dict[int, int] = {}
                for tk in toks:
                    b = _bucket(tk)
                    counts[b] = counts.get(b, 0) + 1
                n = len(toks)
                total = decimal.Decimal(0)
                for b, c in counts.items():
                    term = (c * 1.0 / n) * weights[b]
                    total += decimal.Decimal(term).quantize(
                        _Q14, rounding=decimal.ROUND_HALF_UP)
                total += decimal.Decimal(
                    1.0 * weights[INTERCEPT]).quantize(
                    _Q14, rounding=decimal.ROUND_HALF_UP)
                m = float(total.quantize(
                    _Q9, rounding=decimal.ROUND_HALF_UP))
                prob = float(decimal.Decimal(
                    1.0 / (1.0 + math.exp(-m))).quantize(
                    _Q9, rounding=decimal.ROUND_HALF_UP))
                out.append((doc_id, n, m, prob,
                            1 if prob > 0.5 else 0))
            yield pd.DataFrame(
                out, columns=[doc_id_col, "n_tokens", "score",
                              "prob", "pred"])

    return docs.mapInPandas(
        score, f"{doc_id_col} bigint, n_tokens bigint, score double, "
               f"prob double, pred bigint")
