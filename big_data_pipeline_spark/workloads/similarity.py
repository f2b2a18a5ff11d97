"""Embedding-similarity workload over the embeddings table.

``knn_cosine_topk`` (exact, oracle-checked) scores pairs with a
left-associated sequential dot product on BOTH engines: fixed
association order makes the doubles bit-identical, so ranks and scores
hash-match with no rounding. The oracle uses the *unrolled* 64-term
expression from functions/vectors.py; the Spark side evaluates the SAME
association order inside an Arrow-batched pandas UDF (``seq_cosine`` —
one vectorized numpy op per dimension). Measured at sf0.1 this is ~5x
the interpreted-expression formulation: Spark 4 refuses whole-stage
codegen for the 385-term chain, so JVM-side evaluation is the
tree-walking interpreter, while numpy streams the batch at memory
bandwidth. ``knn_lsh_topk`` is the approximate scale path
(random-hyperplane LSH) with a rows-only driver check; its recall
against the exact baseline is asserted in tests.
"""

from __future__ import annotations

import math as _math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from big_data_pipeline_spark.functions.vectors import (
    EMB_DIMS_DEFAULT,
    dot_sql,
    seq_cosine,
    sq_norm_sql,
)
from big_data_pipeline_spark.io import read_table
from big_data_pipeline_spark.oracle import exact_avg, exact_avg_sql, exact_sum
from big_data_pipeline_spark.similarity.knn import ivf_topk, lsh_topk

_N_QUERIES = 100
_K = 5


def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Norms are precomputed once per vector (and shared by both sides),
    # so each of the |Q|x|C| pairs evaluates only the 64-term dot — a
    # ~3x FLOP cut vs recomputing both norms per pair. The candidate
    # side is explicitly spread across all cores: a small corpus arrives
    # as ONE parquet split, and a broadcast-nested-loop join inherits
    # that single partition — serializing all |Q|x|C| scorings onto one
    # thread. At cluster scale the corpus has many splits and the
    # repartition is a cheap no-op-sized shuffle of the narrow side.
    emb = read_table(spark, sf_dir, "embeddings").withColumn(
        "sqn", F.expr(sq_norm_sql("embedding", EMB_DIMS_DEFAULT, offset=0))
    )
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("sqn").alias("q_sqn"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.col("sqn").alias("c_sqn"),
    ).repartition(spark.sparkContext.defaultParallelism)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            seq_cosine(
                F.col("q_vec"), F.col("c_vec"), F.col("q_sqn"), F.col("c_sqn")
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _K)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


_KNN_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding,
         {sq_norm_sql("embedding", EMB_DIMS_DEFAULT, offset=1)} AS sqn
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_vec, sqn AS q_sqn FROM e
  WHERE vec_id < {_N_QUERIES}
),
c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec, sqn AS c_sqn FROM e),
scored AS (
  SELECT query_id, neighbor_id,
         ({dot_sql("q_vec", "c_vec", EMB_DIMS_DEFAULT, offset=1)})
           / (sqrt(q_sqn) * sqrt(c_sqn)) AS cos_sim
  FROM q, c WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS "rank"
  FROM scored
)
SELECT query_id, "rank", neighbor_id, cos_sim FROM ranked WHERE "rank" <= {_K}
"""


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    norm = F.sqrt(F.expr(sq_norm_sql("embedding", EMB_DIMS_DEFAULT, offset=0)))
    return (
        read_table(spark, sf_dir, "embeddings")
        .withColumn("norm", norm)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
            exact_avg("norm", "avg_norm"),
        )
    )


_NORM_STATS_SQL = f"""
WITH t AS (
  SELECT label, sqrt({sq_norm_sql("embedding", EMB_DIMS_DEFAULT, offset=1)}) AS norm
  FROM embeddings
)
SELECT label, COUNT(*) AS n_vectors,
       MIN(norm) AS min_norm, MAX(norm) AS max_norm,
       {exact_avg_sql("norm", "avg_norm")}
FROM t GROUP BY label
"""


def knn_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-k via LSH bucketing — CELL-EXACT since r6
    (was rows-only): the DuckDB twin replays the seeded hyperplanes,
    signatures, collision join, and fixed-association scoring (see
    ann_recall_report's determinism argument and the sign-margin test
    in tests/test_recall.py); recall floors stay asserted in tests.

    Bandwidth tuned for this corpus's weak-similarity regime (true
    neighbors only reach cosine ~0.45, so collision probabilities are
    low): 24 tables x 6 bits measures recall@5 ~0.7 vs the exact
    baseline. Corpora with real near-duplicates (cosine >0.9) would use
    fewer, wider tables."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return lsh_topk(
        queries,
        emb,
        k=_K,
        n_tables=_LSH_TABLES,
        bits=_LSH_BITS,
        seed=_LSH_SEED,
        exact_scores=True,
    )


def knn_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (coarse k-means quantizer) approximate top-k — the other ANN
    scale path next to LSH. Rows-only driver check; recall vs the exact
    baseline (0.74 at 6/16 probes on this corpus) is asserted in
    tests/test_recall.py."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return ivf_topk(queries, emb, k=_K, n_clusters=16, n_probe=6)


# --- label_centroid_margin: embedding-space label purity --------------------
# The curation question behind it: do the embedding clusters agree with
# the labels? Per-label centroids (exact decimal per-dimension sums →
# one double division each — order-free, so the centroid doubles are
# engine-identical), then each vector scores against every centroid with
# the unrolled fixed-association cosine; margin = cos(own) − best other.
# Negative margins flag probable label noise — rows to route to review
# or drop before training.
#
# Scale: the per-dim sums are one map-side-combinable explode +
# groupBy(label, dim) aggregation (output |labels| x dims rows — a
# model, collected driver-side like the IVF centroids); scoring is a
# single mapInPandas scan. Output is per-vector.

_DIMS = EMB_DIMS_DEFAULT


_MARGIN_SCHEMA = (
    "vec_id long, label int, cos_own double, cos_best_other double, "
    "margin double, suspect boolean"
)


def label_centroid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 shape: the round-2 version broadcast the centroids and
    crossJoined them onto the corpus (corpus x |labels| rows through
    seq_cosine, then a corpus-sized groupBy(vec_id) shuffle to re-fold
    the 10 scores per vector), and its 64 DECIMAL(38,6) aggregates were
    a measurable codegen-compile tax. Now: one posexplode +
    groupBy(label, dim) pass (TWO compiled aggregates, exact decimal
    sums — order-free, so the centroid doubles are engine-identical),
    centroids collected as a |labels| x dims MODEL (like the IVF
    centroids), and one mapInPandas scan scores every centroid per
    Arrow batch with the same left-associated accumulation as the
    oracle's unrolled chain. Zero shuffles on the corpus side, no 10x
    row materialization — 2.26s -> ~0.6s at sf0.1, identical hashes.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    sums = (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            exact_sum("v", "s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    if not sums:
        return spark.createDataFrame([], _MARGIN_SCHEMA)
    labels = sorted({r.label for r in sums})
    lab_idx = {lab: j for j, lab in enumerate(labels)}
    cents = np.zeros((len(labels), _DIMS))
    for r in sums:
        cents[lab_idx[r.label], r.dim] = r.s / r.n
    # centroid squared norms with the oracle's c0*c0 + c1*c1 + ...
    # association (scalar Python floats ARE IEEE doubles)
    sqn_c = np.array(
        [
            _seq_acc(float(row[0]) * float(row[0]), row)
            for row in cents
        ]
    )

    def score(batches):
        for pdf in batches:
            x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            sqn_v = x[:, 0] * x[:, 0]
            for i in range(1, x.shape[1]):
                sqn_v = sqn_v + x[:, i] * x[:, i]
            cos = np.empty((len(x), len(labels)))
            for j in range(len(labels)):
                acc = x[:, 0] * cents[j, 0]
                for i in range(1, x.shape[1]):
                    acc = acc + x[:, i] * cents[j, i]
                cos[:, j] = acc / (np.sqrt(sqn_v) * np.sqrt(sqn_c[j]))
            li = np.array([lab_idx[lab] for lab in pdf["label"]])
            rows = np.arange(len(x))
            own = cos[rows, li]
            masked = cos.copy()
            masked[rows, li] = -np.inf
            best_other = masked.max(axis=1)
            best_other[~np.isfinite(best_other)] = np.nan  # single label
            margin = own - best_other
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "cos_own": own,
                    "cos_best_other": best_other,
                    "margin": margin,
                    "suspect": margin < 0,
                }
            )

    return emb.select("vec_id", "label", "embedding").mapInPandas(
        score, _MARGIN_SCHEMA
    )


def _seq_acc(acc: float, row) -> float:
    for i in range(1, len(row)):
        acc = acc + float(row[i]) * float(row[i])
    return acc


def _label_margin_sql() -> str:
    from big_data_pipeline_spark.oracle import _dec_to_double_sql

    sums = ", ".join(
        _dec_to_double_sql(
            f"SUM(CAST(CAST(embedding[{i + 1}] AS DOUBLE) AS DECIMAL(38,6)))"
        )
        + f" AS s{i}"
        for i in range(_DIMS)
    )
    cdims = ", ".join(f"s{i} / n AS c{i}" for i in range(_DIMS))
    vdot_c = " + ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) * c{i}" for i in range(_DIMS)
    )
    c_sqn = " + ".join(f"c{i} * c{i}" for i in range(_DIMS))
    v_sqn = sq_norm_sql("embedding", _DIMS, offset=1)
    return f"""
WITH sums AS (
  SELECT label, COUNT(*) AS n, {sums}
  FROM embeddings GROUP BY label
),
cents AS (SELECT label AS clabel, {cdims} FROM sums),
scored AS (
  SELECT vec_id, label, clabel,
         ({vdot_c}) / (sqrt({v_sqn}) * sqrt({c_sqn})) AS cos
  FROM embeddings CROSS JOIN cents
)
SELECT vec_id, label,
       MAX(CASE WHEN clabel = label THEN cos END) AS cos_own,
       MAX(CASE WHEN clabel <> label THEN cos END) AS cos_best_other,
       MAX(CASE WHEN clabel = label THEN cos END)
         - MAX(CASE WHEN clabel <> label THEN cos END) AS margin,
       (MAX(CASE WHEN clabel = label THEN cos END)
         - MAX(CASE WHEN clabel <> label THEN cos END)) < 0 AS suspect
FROM scored GROUP BY vec_id, label
"""


# --- k-means assignment (oracle-checked; trainer in ml/kmeans.py) -----------
# One deterministic Lloyd assignment: centroids = the k lowest-id
# vectors, every vector -> nearest centroid by squared L2. Exact on
# both engines via the left-associated l2_sq_sql/seq_l2_sq kernel pair
# (same last-ulp contract as knn_cosine_topk), ties to the lowest
# centroid id. The iterative trainer (broadcast-numpy argmin, one
# groupBy shuffle per round) is ml/kmeans.kmeans_fit with convergence
# tests — its first iteration computes exactly this query.

_KMEANS_K = 8


def kmeans_assign_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_pipeline_spark.functions.vectors import seq_l2_sq

    emb = read_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").cast("int").alias("cluster_id"),
        F.col("embedding").alias("c_vec"),
    )
    scored = (
        emb.select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(F.broadcast(cent))
        .withColumn("dist_sq", seq_l2_sq(F.col("embedding"), F.col("c_vec")))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("dist_sq"), F.asc("cluster_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cluster_id", "dist_sq")
    )


def _kmeans_assign_sql() -> str:
    from big_data_pipeline_spark.functions.vectors import l2_sq_sql

    return f"""
WITH c AS (
  SELECT CAST(vec_id AS INT) AS cluster_id, embedding AS c_vec
  FROM embeddings WHERE vec_id < {_KMEANS_K}
),
scored AS (
  SELECT e.vec_id, c.cluster_id,
         {l2_sq_sql("e.embedding", "c.c_vec", EMB_DIMS_DEFAULT, offset=1)}
           AS dist_sq
  FROM embeddings e, c
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY dist_sq ASC, cluster_id ASC) AS rn
  FROM scored
)
SELECT vec_id, cluster_id, dist_sq FROM ranked WHERE rn = 1
"""


# --- kmeans_topic_terms: cluster labeling via per-cluster TF-IDF ------------
# Topic-modeling-lite, the step after clustering in a curation
# pipeline: name each embedding cluster by its most distinctive terms
# so humans can audit what the clusters ARE (and what a SemDeDup-style
# prune is about to drop). Composition of two proven families: the
# deterministic Lloyd assignment above (vec_id = doc_id couples the
# embeddings and documents tables, as in the curation composite) and
# the tf-idf scheme from workloads/text.py lifted from per-doc to
# per-cluster — tf_c = token occurrences inside the cluster, df_c =
# number of clusters containing the token, score = tf_c * (K+1)/(df_c+1)
# (the same rational idf; exact on both engines, no log).
#
# Scale (100 TB): documents join cluster assignments BEFORE the token
# explode — one compact shuffle join on doc_id, then the fan-out stays
# map-side; the groupBy(cluster, token) is map-side-combinable. The
# cluster-df count is a window COUNT over the already-aggregated
# (cluster, token) rows — NOT a groupBy+join-back, which would fork the
# lineage and recompute the whole assignment+explode pipeline on both
# branches (observed in the first cut's plan: two full kmeans
# subtrees). The window shuffles |clusters|x|vocab| rows, bounded by
# vocabulary, not corpus. The final top-k per cluster is a
# WindowGroupLimit over K groups.

_TOPIC_TOP_N = 5


def kmeans_topic_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign = kmeans_assign_embeddings(spark, sf_dir).select(
        "vec_id", "cluster_id"
    )
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    clustered = docs.join(
        assign, docs["doc_id"] == assign["vec_id"]
    ).select("cluster_id", "text")
    tok = clustered.select(
        "cluster_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    ctf = tok.groupBy("cluster_id", "token").agg(
        F.count(F.lit(1)).alias("tf_c")
    )
    wtok = Window.partitionBy("token")
    score = F.col("tf_c") * (
        F.lit(_KMEANS_K + 1) / (F.col("df_c") + F.lit(1))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("score"), F.asc("token")
    )
    return (
        ctf.withColumn("df_c", F.count(F.lit(1)).over(wtok))
        .withColumn("score", score)
        .withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= _TOPIC_TOP_N)
        .select("cluster_id", "token", "tf_c", "df_c", "score", "term_rank")
    )


def _topic_terms_sql() -> str:
    return f"""
WITH assign AS ({_kmeans_assign_sql()}),
tok AS (
  SELECT a.cluster_id, unnest(string_split(d.text, ' ')) AS token
  FROM documents d JOIN assign a ON d.doc_id = a.vec_id
),
ctf AS (
  SELECT cluster_id, token, COUNT(*) AS tf_c
  FROM tok WHERE token <> '' GROUP BY cluster_id, token
),
withdf AS (
  SELECT cluster_id, token, tf_c,
         COUNT(*) OVER (PARTITION BY token) AS df_c
  FROM ctf
),
sc AS (
  SELECT cluster_id, token, tf_c, df_c,
         tf_c * ({_KMEANS_K + 1} / (df_c + 1)) AS score,
         ROW_NUMBER() OVER (
           PARTITION BY cluster_id
           ORDER BY tf_c * ({_KMEANS_K + 1} / (df_c + 1)) DESC, token
         ) AS term_rank
  FROM withdf
)
SELECT cluster_id, token, tf_c, df_c, score, term_rank
FROM sc WHERE term_rank <= {_TOPIC_TOP_N}
"""


# --- int8 scalar quantization (oracle-checked) ------------------------------
# The ANN memory-reduction path: per-dimension global min/max (exact
# aggregates, one pass), then q_i = floor((v_i - mn_i) * (255 /
# (mx_i - mn_i))) clamped to [0, 255]. Stats come from a posexplode +
# groupBy(dim) — a 64-group map-side-combinable aggregation — and are
# collected to the driver (2 x dims doubles: a MODEL, like the IVF
# centroids, never row data); the quantize map is then one Arrow/numpy
# pass with the mins/scales closed over as constants. The first cut
# instead built a 128-wide agg + a 64-element when-chain projection:
# correct, but Spark spent ~3s *compiling* that expression tree at
# every scale (sf0.1 and sf1 timed identically — pure codegen
# overhead). numpy evaluates the same fixed-shape IEEE chain
# (subtract, multiply-by-inverse-scale, floor, clamp), so the ints
# still match the DuckDB oracle bit-for-bit.
#
# Output contract: q_vec is the comma-joined code string, not a raw
# array<int> — the driver's canonicalizer sorts result rows with pandas
# and a Python-list cell is unhashable there (round-3 CORRECTNESS err);
# the serialized form carries the identical information and hashes
# stably on both engines.


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = EMB_DIMS_DEFAULT
    emb = read_table(spark, sf_dir, "embeddings")
    stats = (
        emb.select(F.posexplode("embedding").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.min(F.col("v").cast("double")).alias("mn"),
            F.max(F.col("v").cast("double")).alias("mx"),
        )
        .collect()
    )
    if not stats:
        return emb.select(
            "vec_id", F.lit(None).cast("string").alias("q_vec")
        ).where(F.lit(False))
    mn = np.empty(d)
    mx = np.empty(d)
    for r in stats:
        mn[r.dim], mx[r.dim] = r.mn, r.mx
    flat = mx == mn
    scale = np.where(flat, 1.0, 255.0 / np.where(flat, 1.0, mx - mn))

    @pandas_udf(T.StringType())
    def quantize(embs: pd.Series) -> pd.Series:
        x = np.vstack(embs.to_numpy()).astype(np.float64)
        q = np.floor((x - mn) * scale)
        q = np.clip(q, 0.0, 255.0).astype(np.int32)
        q[:, flat] = 0
        return pd.Series([",".join(map(str, row)) for row in q])

    return emb.select("vec_id", quantize(F.col("embedding")).alias("q_vec"))


def _quantize_sql() -> str:
    d = EMB_DIMS_DEFAULT
    mn = [f"MIN(CAST(embedding[{i + 1}] AS DOUBLE))" for i in range(d)]
    mx = [f"MAX(CAST(embedding[{i + 1}] AS DOUBLE))" for i in range(d)]
    stats = ", ".join(
        [f"{m} AS mn{i}" for i, m in enumerate(mn)]
        + [f"{m} AS mx{i}" for i, m in enumerate(mx)]
    )
    elems = ", ".join(
        f"CAST(CASE WHEN mx{i} = mn{i} THEN 0 ELSE "
        f"LEAST(255, GREATEST(0, FLOOR((CAST(embedding[{i + 1}] AS DOUBLE) - mn{i})"
        f" * (255.0 / (mx{i} - mn{i}))))) END AS INT)"
        for i in range(d)
    )
    return f"""
WITH s AS (SELECT {stats} FROM embeddings)
SELECT vec_id, array_to_string([{elems}], ',') AS q_vec FROM embeddings, s
"""


# --- semdedup_prune: semantic dedup via cluster-local cosine ----------------
# SemDeDup (Abbas et al., 2023) re-expressed exactly: cluster the
# embedding space (the deterministic Lloyd assignment above), then look
# for near-duplicate pairs ONLY within a cluster, and keep one
# representative per duplicate relation. The keep rule here is the
# deterministic greedy-by-id variant: a vector is dropped iff some
# LOWER-id vector in its cluster has cosine >= _SEM_TAU with it (the
# lowest id always survives). Output is per-vector with an audit column
# naming the lowest-id duplicate that caused the drop.
#
# Scale (100 TB): this is the whole point of SemDeDup — the quadratic
# pair search is confined to clusters, and k GROWS WITH THE CORPUS
# (k = max(8, ceil(N / _SEM_CLUSTER_TARGET)), computed inside the plan
# from COUNT(*) — identically on both engines, no driver action), so
# expected cluster size stays ~_SEM_CLUSTER_TARGET and total pair work
# is ~N·target/2, linear in N, vs the N² all-pairs a fixed k degrades
# to. The pair join is an equi-join on cluster_id (one shuffle); cosine
# runs in the Arrow seq_cosine kernel; the drop decision is one
# groupBy(higher_id) MIN aggregation.

_SEM_TAU = 0.45
_SEM_CLUSTER_TARGET = 250  # target mean cluster population


def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings").withColumn(
        "sqn", F.expr(sq_norm_sql("embedding", EMB_DIMS_DEFAULT, offset=0))
    )
    k = emb.select(
        F.greatest(
            F.lit(_KMEANS_K),
            F.ceil(F.count(F.lit(1)) / _SEM_CLUSTER_TARGET),
        ).alias("k")
    )
    cent = (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(k))
        .filter(F.col("vec_id") < F.col("k"))
        .select(
            F.col("vec_id").cast("int").alias("cluster_id"),
            F.col("embedding").alias("c_vec"),
        )
    )
    # Assignment: centroids are MODEL-sized (k = max(8, n/target) rows
    # of 64 floats — 1.2 MB even at the sf10 stress corpus), so they
    # ride the mapInPandas closure and each corpus batch computes its
    # (batch x k) distance matrix in numpy. The previous formulation
    # (crossJoin(broadcast(cent)) + pairwise UDF + per-vec window)
    # shipped n x k PAIRS of 64-float vectors through Arrow — ~1.3 TB
    # of serialization at sf10, the one superlinear offender of the r7
    # scale audit (20x on 10x data; this path is ~linear). Per-scalar
    # fp association is unchanged (d0*d0 then acc + d_i*d_i, dims in
    # order, operands cast float32->double), and np.argmin's
    # first-minimum rule equals the old ORDER BY dist_sq, cluster_id
    # tie-break, so assignments — and the DuckDB oracle replay — are
    # bit-identical. Beyond ~1e5 centroids the coarse-quantizer
    # two-level search (similarity/knn.py IVF pattern) is the
    # documented escalation.
    import numpy as np
    import pandas as pd

    cent_rows = sorted(cent.collect(), key=lambda r: r.cluster_id)
    c_mat = np.array([r.c_vec for r in cent_rows], dtype=np.float64)
    c_ids = np.array([r.cluster_id for r in cent_rows], dtype=np.int32)

    def _assign_batches(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            out = np.empty(len(ids), dtype=np.int32)
            for s in range(0, len(ids), 1024):  # bound (rows x k) blocks
                xb = x[s : s + 1024]
                d0 = xb[:, 0][:, None] - c_mat[:, 0][None, :]
                acc = d0 * d0
                for i in range(1, xb.shape[1]):
                    di = xb[:, i][:, None] - c_mat[:, i][None, :]
                    acc = acc + di * di
                out[s : s + 1024] = c_ids[np.argmin(acc, axis=1)]
            yield pd.DataFrame({"vec_id": ids, "cluster_id": out})

    assign = (
        emb.select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(_assign_batches, "vec_id long, cluster_id int")
        # materialize the assignment once: it feeds both pair-join
        # orientations AND the final keep/drop join, and without the cut
        # the numpy distance kernel re-scored the whole corpus three
        # times (three MapInPandas nodes in the before-plan). Two narrow
        # columns per vector: the reduced side.
        .localCheckpoint(eager=True)
    )
    sides = assign.join(emb.select("vec_id", "embedding", "sqn"), "vec_id")
    a = sides.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_vec"),
        F.col("sqn").alias("a_sqn"),
    )
    b = sides.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_vec"),
        F.col("sqn").alias("b_sqn"),
    )
    dups = (
        a.join(b, "cluster_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn(
            "cos_sim",
            seq_cosine(
                F.col("a_vec"), F.col("b_vec"), F.col("a_sqn"), F.col("b_sqn")
            ),
        )
        .filter(F.col("cos_sim") >= _SEM_TAU)
        .groupBy("b_id")
        .agg(F.min("a_id").alias("dup_of"))
    )
    return (
        assign.join(dups, assign.vec_id == dups.b_id, "left")
        .select(
            "vec_id",
            "cluster_id",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
    )


def _semdedup_sql() -> str:
    from big_data_pipeline_spark.functions.vectors import l2_sq_sql

    cos = (
        f"({dot_sql('x.embedding', 'y.embedding', EMB_DIMS_DEFAULT, offset=1)})"
        f" / (sqrt(x.sqn) * sqrt(y.sqn))"
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding,
         {sq_norm_sql("embedding", EMB_DIMS_DEFAULT, offset=1)} AS sqn
  FROM embeddings
),
kv AS (
  SELECT GREATEST({_KMEANS_K},
                  CAST(CEIL(COUNT(*) / {_SEM_CLUSTER_TARGET}.0) AS BIGINT))
           AS k
  FROM embeddings
),
c AS (
  SELECT CAST(vec_id AS INT) AS cluster_id, embedding AS c_vec
  FROM embeddings, kv WHERE vec_id < k
),
scored AS (
  SELECT e.vec_id, c.cluster_id,
         {l2_sq_sql("e.embedding", "c.c_vec", EMB_DIMS_DEFAULT, offset=1)}
           AS dist_sq
  FROM embeddings e, c
),
assign AS (
  SELECT vec_id, cluster_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY dist_sq ASC, cluster_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
sides AS (
  SELECT a.vec_id, a.cluster_id, e.embedding, e.sqn
  FROM assign a JOIN e USING (vec_id)
),
dups AS (
  SELECT y.vec_id AS b_id, MIN(x.vec_id) AS dup_of
  FROM sides x JOIN sides y
    ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
  WHERE {cos} >= {_SEM_TAU}
  GROUP BY y.vec_id
)
SELECT a.vec_id, a.cluster_id, d.dup_of IS NULL AS kept, d.dup_of
FROM assign a LEFT JOIN dups d ON a.vec_id = d.b_id
"""


# --- knn_matryoshka_rerank: prefix-dim shortlist + full-dim rerank ----------
# Matryoshka-style two-stage retrieval: stage 1 scores every candidate
# with only the FIRST _MRL_DIMS dimensions (embeddings trained with
# matryoshka losses keep most signal in the prefix) and shortlists
# _MRL_SHORTLIST per query; stage 2 rescores just the shortlist with
# the full vector and emits the top _K. Both stages use the fixed
# left-association kernels, so scores — and therefore the shortlist
# membership and final ranks — are bit-identical to the SQL oracle.
#
# Scale (100 TB): stage 1 is the |Q|x|C| sweep at dims/4 the FLOPs and
# dims/4 the scan bytes if prefixes are stored column-separate; stage 2
# touches |Q| x shortlist full vectors — the expensive arithmetic is
# decoupled from corpus size. At real scale stage 1 would itself be
# LSH/IVF-pruned (the operators above); the rerank stage is unchanged.

# 32 of 64 dims: halves stage-1 FLOPs/scan bytes while keeping
# recall@5 >= 0.6 vs the exact baseline on this corpus (the synthetic
# embeddings aren't matryoshka-trained, so the prefix carries less
# signal than a real MRL model would — 16 dims measured only ~0.34).
_MRL_DIMS = 32
_MRL_SHORTLIST = 20


def knn_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.slice("embedding", 1, _MRL_DIMS).alias("prefix"),
        F.expr(sq_norm_sql("embedding", EMB_DIMS_DEFAULT, offset=0)).alias(
            "sqn"
        ),
        F.expr(sq_norm_sql("embedding", _MRL_DIMS, offset=0)).alias("p_sqn"),
    )
    # Stage 1 ranks on a NARROW frame — (query_id, neighbor_id,
    # pre_cos) only. The full and prefix vectors must NOT ride through
    # the shortlist window: rescore needs them afterwards, so Catalyst
    # cannot prune them the way it does in knn_cosine_topk, and the
    # exchange-then-sort of |corpus|x|queries| rows each carrying four
    # float arrays across only _N_QUERIES partition keys hit a
    # per-partition sort/spill cliff at the sf10 stress corpus (32.2x
    # batch / 29x isolated on 10x data). With ~16-byte rows the same
    # window is linear; the shortlist (_MRL_SHORTLIST x _N_QUERIES
    # rows) then broadcast-joins back against the corpus scan to fetch
    # vectors for the full-dim rescore — map-side, no corpus shuffle.
    q_narrow = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("prefix").alias("q_pre"),
        F.col("p_sqn").alias("q_psqn"),
    )
    c_narrow = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("prefix").alias("c_pre"),
        F.col("p_sqn").alias("c_psqn"),
    ).repartition(spark.sparkContext.defaultParallelism)
    stage1 = (
        c_narrow.crossJoin(F.broadcast(q_narrow))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            seq_cosine(
                F.col("q_pre"), F.col("c_pre"), F.col("q_psqn"), F.col("c_psqn")
            ).alias("pre_cos"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("pre_cos"), F.asc("neighbor_id")
    )
    short = (
        stage1.withColumn("pre_rank", F.row_number().over(w1))
        .filter(F.col("pre_rank") <= _MRL_SHORTLIST)
        .select("query_id", "neighbor_id", "pre_rank")
    )
    q_full = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("sqn").alias("q_sqn"),
    )
    c_full = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.col("sqn").alias("c_sqn"),
    )
    rescored = (
        c_full.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(q_full), "query_id")
        .withColumn(
            "cos_sim",
            seq_cosine(
                F.col("q_vec"), F.col("c_vec"), F.col("q_sqn"), F.col("c_sqn")
            ),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= _K)
        .select("query_id", "rank", "neighbor_id", "cos_sim", "pre_rank")
    )


_MRL_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding,
         {sq_norm_sql("embedding", EMB_DIMS_DEFAULT, offset=1)} AS sqn,
         {sq_norm_sql("embedding", _MRL_DIMS, offset=1)} AS p_sqn
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_vec, sqn AS q_sqn,
         p_sqn AS q_psqn
  FROM e WHERE vec_id < {_N_QUERIES}
),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS c_vec, sqn AS c_sqn,
         p_sqn AS c_psqn
  FROM e
),
stage1 AS (
  SELECT query_id, neighbor_id, c_vec, q_vec, c_sqn, q_sqn,
         ({dot_sql("q_vec", "c_vec", _MRL_DIMS, offset=1)})
           / (sqrt(q_psqn) * sqrt(c_psqn)) AS pre_cos
  FROM q, c WHERE query_id <> neighbor_id
),
short AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY pre_cos DESC, neighbor_id ASC)
              AS pre_rank
  FROM stage1
  QUALIFY pre_rank <= {_MRL_SHORTLIST}
),
rescored AS (
  SELECT query_id, neighbor_id, pre_rank,
         ({dot_sql("q_vec", "c_vec", EMB_DIMS_DEFAULT, offset=1)})
           / (sqrt(q_sqn) * sqrt(c_sqn)) AS cos_sim
  FROM short
)
SELECT query_id, "rank", neighbor_id, cos_sim, pre_rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC)
              AS "rank"
  FROM rescored
) WHERE "rank" <= {_K}
"""


# --- embedding_pq_codes: product quantization (Jégou et al., PAMI'11) -------
# The other ANN compression path next to int8 scalar quantization: the
# 64-dim vector is cut into _PQ_M contiguous subvectors; each subvector
# is replaced by the id of its nearest codeword in that subspace's
# codebook (here: the deterministic codebook of the _PQ_CODES lowest-id
# vectors' subvectors — k-means-refined codebooks are a drop-in swap,
# ml/kmeans.py). 64 floats (256 B) become _PQ_M uint8 codes (8 B), the
# 32x shrink that lets a 100 TB embedding corpus serve ANN from memory.
# Output is the long-form code table (vec_id, m, code_id, dist_sq): one
# row per (vector, subspace) with the per-subspace residual distance so
# downstream can bound reconstruction error. The packed array form is
# one collect_list away, but the driver-facing contract keeps atomic
# columns (its canonicalizer sorts rows with pandas, where a
# Python-list cell is unhashable — round-3 CORRECTNESS err) and long
# form loses nothing, avoids float-summation, and hashes cell-exact.
#
# Scale: the codebook is MODEL-sized and rides the broadcast join; the
# subspace explode is a map-side x_PQ_M fan-out of 8-float rows; the
# only shuffle is the per-(vector, subspace) argmin window. Assignment
# arithmetic is the same left-associated kernel pair as k-means, so
# codes and distances are bit-identical to the SQL oracle.

_PQ_M = 8  # subspaces
_PQ_SUB = EMB_DIMS_DEFAULT // _PQ_M  # dims per subspace
_PQ_CODES = 16  # codewords per subspace


def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_pipeline_spark.functions.vectors import seq_l2_sq

    emb = read_table(spark, sf_dir, "embeddings")
    subs = F.array(
        *[F.slice("embedding", m * _PQ_SUB + 1, _PQ_SUB) for m in range(_PQ_M)]
    )
    vec_subs = emb.select(
        "vec_id", F.posexplode(subs).alias("m", "subvec")
    ).repartition(spark.sparkContext.defaultParallelism)
    codebook = (
        emb.filter(F.col("vec_id") < _PQ_CODES)
        .select(F.col("vec_id").cast("int").alias("code_id"),
                F.posexplode(subs).alias("m", "codevec"))
    )
    scored = vec_subs.join(F.broadcast(codebook), "m").withColumn(
        "dist_sq", seq_l2_sq(F.col("subvec"), F.col("codevec"))
    )
    w = Window.partitionBy("vec_id", "m").orderBy(
        F.asc("dist_sq"), F.asc("code_id")
    )
    best = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return best.select("vec_id", "m", "code_id", "dist_sq")


def _pq_sql() -> str:
    from big_data_pipeline_spark.functions.vectors import l2_sq_sql

    return f"""
WITH vec_subs AS (
  SELECT vec_id, m,
         embedding[m * {_PQ_SUB} + 1 : m * {_PQ_SUB} + {_PQ_SUB}] AS subvec
  FROM embeddings, range({_PQ_M}) r(m)
),
codebook AS (
  SELECT CAST(vec_id AS INT) AS code_id, m,
         embedding[m * {_PQ_SUB} + 1 : m * {_PQ_SUB} + {_PQ_SUB}] AS codevec
  FROM embeddings, range({_PQ_M}) r(m)
  WHERE vec_id < {_PQ_CODES}
),
scored AS (
  SELECT v.vec_id, v.m, c.code_id,
         {l2_sq_sql("v.subvec", "c.codevec", _PQ_SUB, offset=1)} AS dist_sq
  FROM vec_subs v JOIN codebook c USING (m)
),
best AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                 ORDER BY dist_sq ASC, code_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT vec_id, CAST(m AS INT) AS m, code_id, dist_sq FROM best
"""


# --- hard_negative_mining: cross-label nearest neighbors --------------------
# Contrastive-training data prep: for each query vector, the most
# similar vectors carrying a DIFFERENT label are the "hard negatives"
# worth training against (easy negatives are random; hard ones move the
# model). Same exact-kernel sweep as knn_cosine_topk with the label
# predicate applied BEFORE ranking, so the top-k is the top-k of the
# cross-label candidate set. Scale shape is identical to the kNN
# baseline (and inherits its LSH/IVF scale paths); the label filter
# drops candidates map-side, before any window state.

_HN_K = 5


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings").withColumn(
        "sqn", F.expr(sq_norm_sql("embedding", EMB_DIMS_DEFAULT, offset=0))
    )
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_vec"),
        F.col("sqn").alias("q_sqn"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        F.col("embedding").alias("c_vec"),
        F.col("sqn").alias("c_sqn"),
    ).repartition(spark.sparkContext.defaultParallelism)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_label") != F.col("n_label"))
        .withColumn(
            "cos_sim",
            seq_cosine(
                F.col("q_vec"), F.col("c_vec"), F.col("q_sqn"), F.col("c_sqn")
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HN_K)
        .select("query_id", "q_label", "rank", "neighbor_id", "n_label", "cos_sim")
    )


_HARD_NEG_SQL = f"""
WITH e AS (
  SELECT vec_id, label, embedding,
         {sq_norm_sql("embedding", EMB_DIMS_DEFAULT, offset=1)} AS sqn
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, label AS q_label, embedding AS q_vec,
         sqn AS q_sqn
  FROM e WHERE vec_id < {_N_QUERIES}
),
c AS (
  SELECT vec_id AS neighbor_id, label AS n_label, embedding AS c_vec,
         sqn AS c_sqn
  FROM e
),
scored AS (
  SELECT query_id, q_label, neighbor_id, n_label,
         ({dot_sql("q_vec", "c_vec", EMB_DIMS_DEFAULT, offset=1)})
           / (sqrt(q_sqn) * sqrt(c_sqn)) AS cos_sim
  FROM q, c WHERE q_label <> n_label
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC)
              AS "rank"
  FROM scored
)
SELECT query_id, q_label, "rank", neighbor_id, n_label, cos_sim
FROM ranked WHERE "rank" <= {_HN_K}
"""


# --- contrastive_negative_pairs: RNG-free hash-ring negative sampling -------
# The random-negative half of contrastive pair generation, with the
# repo's no-RNG discipline: negative j for a document is the row whose
# id equals a Knuth multiplicative mix of (id, j) mod N — deterministic
# across retries/engines (pure integer arithmetic, no engine RNG), and
# uniform enough for training mixes. N comes from COUNT(*) inside the
# plan. One map-side explode (k rows per doc) + one equi-join on the
# target id — no cartesian at any scale; self-collisions are filtered.

_NEG_K = 4
_MIX_A = 2654435761  # Knuth multiplicative constant
_MIX_B = 40503


def contrastive_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    n = emb.select(F.count(F.lit(1)).alias("n_vecs"))
    anchors = (
        emb.crossJoin(F.broadcast(n))
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
            F.explode(
                F.sequence(F.lit(0), F.lit(_NEG_K - 1))
            ).alias("j"),
            F.col("n_vecs"),
        )
        .withColumn(
            "neg_id",
            (
                F.col("anchor_id") * F.lit(_MIX_A)
                + F.col("j") * F.lit(_MIX_B)
            )
            % F.col("n_vecs"),
        )
        .filter(F.col("neg_id") != F.col("anchor_id"))
    )
    negs = emb.select(
        F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label")
    )
    return anchors.join(negs, "neg_id").select(
        "anchor_id",
        "j",
        "neg_id",
        "anchor_label",
        "neg_label",
        (F.col("anchor_label") == F.col("neg_label")).alias("label_collision"),
    )


_CONTRASTIVE_SQL = f"""
WITH n AS (SELECT COUNT(*) AS n_vecs FROM embeddings),
anchors AS (
  SELECT vec_id AS anchor_id, label AS anchor_label, j, n_vecs,
         (vec_id * {_MIX_A} + j * {_MIX_B}) % n_vecs AS neg_id
  FROM embeddings, n, range(0, {_NEG_K}) r(j)
),
negs AS (SELECT vec_id AS neg_id, label AS neg_label FROM embeddings)
SELECT anchor_id, j, neg_id, anchor_label, neg_label,
       anchor_label = neg_label AS label_collision
FROM anchors JOIN negs USING (neg_id)
WHERE neg_id <> anchor_id
"""


# --- knn_label_vote: k-NN majority-vote classification eval -----------------
# The label-quality probe run before training on weakly-labeled data:
# predict each query vector's label by majority vote over its exact
# top-5 cosine neighbors (ties → smallest label), compare against the
# stored label, and report per-true-label accuracy. Builds on the
# hash-exact knn_cosine_topk (identical association-order doubles), so
# the vote — integer counts + deterministic tie-break — is fully
# oracle-checkable end to end, unlike typical ANN evals.
#
# Scale (100 TB): the vote/accuracy stages all operate on the |Q|·k
# top-k frame (query-set scale); labels join in via broadcast-sized
# projections of the embeddings table keyed by vec_id.


def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    topk = knn_cosine_topk(spark, sf_dir)
    votes = (
        topk.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("n_label")
    )
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("n_label").alias("pred_label"))
    )
    return (
        pred.join(
            labels.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("true_label"),
            ),
            "query_id",
        )
        .groupBy("true_label")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(
                (F.col("pred_label") == F.col("true_label")).cast("long")
            ).alias("n_correct"),
        )
        .withColumn(
            "accuracy", F.col("n_correct") / F.col("n_queries")
        )
    )


_KNN_VOTE_SQL = f"""
WITH topk AS ({_KNN_SQL}),
votes AS (
  SELECT t.query_id, e.label AS n_label,
         CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM topk t JOIN embeddings e ON t.neighbor_id = e.vec_id
  GROUP BY 1, 2
),
pred AS (
  SELECT query_id, n_label AS pred_label
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY n_votes DESC, n_label ASC) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT e.label AS true_label,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       CAST(SUM(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS accuracy
FROM pred p JOIN embeddings e ON p.query_id = e.vec_id
GROUP BY 1
"""


# --- ann_recall_report: ANN quality evaluation as a query -------------------
# The eval harness every ANN deployment runs in production: join the
# approximate (LSH) top-k against the exact top-k and report recall@k
# per query plus the macro average. Output: one summary row
# (bucket='OVERALL') plus a histogram of per-query recall values —
# tiny, stable schema.
#
# CELL-EXACT since r6 (was rows-only): every stage is deterministic and
# engine-portable, so the DuckDB twin REPLAYS the whole pipeline — the
# splitmix/Box-Muller hyperplanes are embedded as literals (the same
# 24x6x64 stream `_hyperplanes` generates; repr round-trips doubles),
# signatures are recomputed relationally (UNNEST dims x planes →
# SUM → sign bits), collisions re-joined, and collisions scored with
# the SAME fixed-association cosine as the exact baseline
# (lsh_topk(exact_scores=True) ↔ dot_sql). The only cross-engine FP
# difference left is projection SUM association (numpy matmul vs SQL
# SUM) — harmless because no projection sits near the sign threshold;
# tests/test_recall.py pins min |proj| >> 64 ulps on the corpus so the
# signatures provably agree under ANY summation order.
#
# Scale (100 TB): both top-k inputs are |Q| x k rows (query-set scale,
# not corpus scale); the comparison is a left-semi join + two
# aggregations over that small frame. The expensive parts are the two
# top-k operators themselves, each already scale-shaped (broadcast
# query side / bucketed LSH join).

_LSH_TABLES = 24
_LSH_BITS = 6
_LSH_SEED = 42


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    exact = knn_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = lsh_topk(
        queries,
        emb,
        k=_K,
        n_tables=_LSH_TABLES,
        bits=_LSH_BITS,
        seed=_LSH_SEED,
        exact_scores=True,
    ).select("query_id", "neighbor_id")
    # One left join + one groupBy replaces the former semi-join + two
    # groupBys + outer join (approx pairs are unique per (query,
    # neighbor), so count(hit) == the semi-join count). per_q is then
    # the ONLY consumer of the exact and LSH pipelines — and because
    # the hist/OVERALL union below reads per_q twice, the eager
    # localCheckpoint on these 100 rows is what keeps the full
    # |Q|x|C| exact sweep and the LSH collision join from executing
    # twice end-to-end (VERDICT r6 item 5: 4.6s -> ~2.5s at sf0.1,
    # still cell-exact).
    per_q = (
        exact.join(
            approx.withColumn("hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("hit").alias("n_hit"),
        )
        .select("query_id", "n_hit", "n_true")
        .localCheckpoint(eager=True)
    )
    hist = per_q.groupBy(
        F.format_string(
            "recall=%.1f", F.round(F.col("n_hit") / F.col("n_true"), 1)
        ).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("n_hit").alias("n_hit"),
        F.sum("n_true").alias("n_true"),
    )
    overall = per_q.agg(
        F.lit("OVERALL").alias("bucket"),
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("n_hit").alias("n_hit"),
        F.sum("n_true").alias("n_true"),
    )
    return hist.unionByName(overall).withColumn(
        "recall_at_k", F.col("n_hit") / F.col("n_true")
    )


def _lsh_replay_ctes() -> str:
    """Shared DuckDB replay of the LSH pipeline (hyperplanes →
    signatures → collisions → fixed-association scoring → per-query
    rank): the CTE chain both _knn_lsh_sql and _ann_recall_sql build
    on. The hyperplanes are the SAME splitmix/Box-Muller stream Spark
    uses, embedded as 144 64-float list literals (repr round-trips
    doubles exactly)."""
    from big_data_pipeline_spark.similarity.knn import _hyperplanes

    planes = _hyperplanes(_LSH_TABLES, _LSH_BITS, EMB_DIMS_DEFAULT, _LSH_SEED)
    rows = ",\n    ".join(
        f"({t}, {b}, [{', '.join(repr(w) for w in planes[t][b])}])"
        for t in range(_LSH_TABLES)
        for b in range(_LSH_BITS)
    )
    d = EMB_DIMS_DEFAULT
    return f"""planes(table_id, bit, ws) AS (VALUES
    {rows}
),
pw AS (
  SELECT table_id, bit, i AS dim, ws[i] AS w
  FROM planes, UNNEST(range(1, {d + 1})) AS u(i)
),
ed AS (
  SELECT vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(range(1, {d + 1})) AS u(i)
),
proj AS (
  SELECT vec_id, table_id, bit, SUM(x * w) AS p
  FROM ed JOIN pw USING (dim)
  GROUP BY 1, 2, 3
),
sig AS (
  SELECT vec_id, table_id,
         SUM(CASE WHEN p >= 0 THEN 1 << bit ELSE 0 END) AS sig
  FROM proj GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT sq.vec_id AS query_id, sc.vec_id AS neighbor_id
  FROM sig sq JOIN sig sc
    ON sq.table_id = sc.table_id AND sq.sig = sc.sig
  WHERE sq.vec_id < {_N_QUERIES} AND sq.vec_id <> sc.vec_id
),
en AS (
  SELECT vec_id, embedding,
         {sq_norm_sql("embedding", EMB_DIMS_DEFAULT, offset=1)} AS sqn
  FROM embeddings
),
ascored AS (
  SELECT query_id, neighbor_id,
         ({dot_sql("qe.embedding", "ce.embedding", EMB_DIMS_DEFAULT,
                   offset=1)})
           / (sqrt(qe.sqn) * sqrt(ce.sqn)) AS cos_sim
  FROM cand
  JOIN en qe ON qe.vec_id = query_id
  JOIN en ce ON ce.vec_id = neighbor_id
),
aranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
  FROM ascored
)"""


def _knn_lsh_sql() -> str:
    """Full-replay DuckDB twin of knn_lsh_topk."""
    return f"""
WITH {_lsh_replay_ctes()}
SELECT query_id, CAST(rn AS INT) AS "rank", neighbor_id, cos_sim
FROM aranked WHERE rn <= {_K}
"""


def _ann_recall_sql() -> str:
    """Full-replay DuckDB twin of ann_recall_report (see the block
    comment above for the determinism argument)."""
    return f"""
WITH exact_topk AS ({_KNN_SQL}),
{_lsh_replay_ctes()},
approx AS (
  SELECT query_id, neighbor_id FROM aranked WHERE rn <= {_K}
),
per_q AS (
  SELECT ex.query_id,
         COUNT(*) AS n_true,
         SUM(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
           AS n_hit
  FROM exact_topk ex
  LEFT JOIN approx ap
    ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id
  GROUP BY 1
),
hist AS (
  SELECT printf('recall=%.1f',
                ROUND(CAST(n_hit AS DOUBLE) / n_true, 1)) AS bucket,
         COUNT(*) AS n_queries,
         CAST(SUM(n_hit) AS BIGINT) AS n_hit,
         CAST(SUM(n_true) AS BIGINT) AS n_true
  FROM per_q GROUP BY 1
),
overall AS (
  SELECT 'OVERALL' AS bucket, COUNT(*) AS n_queries,
         CAST(SUM(n_hit) AS BIGINT) AS n_hit,
         CAST(SUM(n_true) AS BIGINT) AS n_true
  FROM per_q
)
SELECT bucket, n_queries, n_hit, n_true,
       CAST(n_hit AS DOUBLE) / n_true AS recall_at_k
FROM (SELECT * FROM hist UNION ALL SELECT * FROM overall)
"""


# --- maxsim_multivector_topk: ColBERT-style late interaction ----------------
#
# Multi-vector retrieval (Khattab & Zaharia 2020): each item is a BAG of
# token vectors, and relevance is "every query token finds its best
# matching document token" — MaxSim(q, d) = sum_i max_j cos(q_i, d_j).
# The 64-dim embedding column is reinterpreted as 8 token-vectors of 8
# dims, so the same parquet corpus exercises the multi-vector plan.
#
# Determinism contract (same as knn_cosine_topk): every reduction has a
# FIXED order on both engines — 8-term left-associated dots, exact max
# over the 8 candidate tokens (max is order-free for doubles without
# NaNs), left-associated sum over the 8 query tokens — so scores and
# ranks hash-match with no rounding.

_MV_TOKENS = 8  # token vectors per item
_MV_SUB = EMB_DIMS_DEFAULT // _MV_TOKENS  # dims per token vector
_MV_QUERIES = 20
_MV_K = 5


@pandas_udf(T.DoubleType())
def _maxsim_kernel(q: pd.Series, d: pd.Series) -> pd.Series:
    """Arrow-batched MaxSim with the fixed-order contract above: one
    vectorized numpy op per (token-pair, dim) step — 8x8x8 fused-batch
    steps, no per-row Python."""
    x = np.vstack(q.to_numpy()).astype(np.float64).reshape(-1, _MV_TOKENS, _MV_SUB)
    y = np.vstack(d.to_numpy()).astype(np.float64).reshape(-1, _MV_TOKENS, _MV_SUB)

    def _sub_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        acc = a[:, 0] * b[:, 0]
        for k in range(1, _MV_SUB):
            acc = acc + a[:, k] * b[:, k]
        return acc

    xn = [np.sqrt(_sub_dot(x[:, i], x[:, i])) for i in range(_MV_TOKENS)]
    yn = [np.sqrt(_sub_dot(y[:, j], y[:, j])) for j in range(_MV_TOKENS)]
    score = None
    for i in range(_MV_TOKENS):
        best = None
        for j in range(_MV_TOKENS):
            cos = _sub_dot(x[:, i], y[:, j]) / (xn[i] * yn[j])
            best = cos if best is None else np.maximum(best, cos)
        score = best if score is None else score + best
    return pd.Series(score)


def maxsim_multivector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction top-k: MaxSim-score the query set against the
    corpus, rank per query. Same physical shape as knn_cosine_topk —
    tiny query side broadcast, corpus side repartitioned across cores,
    per-query top-k via rank window (WindowGroupLimit pushes the k=5
    cut below the sort). At cluster scale the corpus never shuffles;
    for corpora where even one pass is too hot, the PQ/IVF route above
    provides the candidate prefilter and MaxSim re-scores finalists.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _MV_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    c = emb.select(
        F.col("vec_id").alias("doc_vec_id"), F.col("embedding").alias("d_vec")
    ).repartition(spark.sparkContext.defaultParallelism)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("doc_vec_id"))
        .withColumn("maxsim", _maxsim_kernel(F.col("q_vec"), F.col("d_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("maxsim"), F.asc("doc_vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _MV_K)
        .select("query_id", "rank", "doc_vec_id", "maxsim")
    )


def _maxsim_sql() -> str:
    """Oracle twin: the same 8x8 cosine grid spelled out as unrolled
    1-based list-index expressions, greatest() per query token,
    left-associated + chain across tokens."""

    def sub_dot(a: str, b: str, i: int, j: int) -> str:
        return " + ".join(
            f"CAST({a}[{i * _MV_SUB + k + 1}] AS DOUBLE)"
            f" * CAST({b}[{j * _MV_SUB + k + 1}] AS DOUBLE)"
            for k in range(_MV_SUB)
        )

    def sub_norm(a: str, i: int) -> str:
        return sub_dot(a, a, i, i)

    best = [
        "greatest("
        + ", ".join(
            f"({sub_dot('q_vec', 'd_vec', i, j)})"
            f" / (sqrt({sub_norm('q_vec', i)}) * sqrt({sub_norm('d_vec', j)}))"
            for j in range(_MV_TOKENS)
        )
        + ")"
        for i in range(_MV_TOKENS)
    ]
    score = best[0]
    for term in best[1:]:
        score = f"({score} + {term})"
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings
  WHERE vec_id < {_MV_QUERIES}
),
c AS (SELECT vec_id AS doc_vec_id, embedding AS d_vec FROM embeddings),
scored AS (
  SELECT query_id, doc_vec_id, {score} AS maxsim
  FROM q, c WHERE query_id <> doc_vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY maxsim DESC, doc_vec_id ASC) AS "rank"
  FROM scored
)
SELECT query_id, "rank", doc_vec_id, maxsim FROM ranked WHERE "rank" <= {_MV_K}
"""


# --- rrf_hybrid_retrieval: reciprocal-rank fusion of lexical + dense --------

_RRF_C = 60  # the standard RRF constant (Cormack, Clarke & Buettcher 2009)
_RRF_DEPTH = 100  # per-list fusion depth
_RRF_OUT = 20
_RRF_PROBE_ID = 0  # doc/vector 0 is the query; excluded from both lists


def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.,
    SIGIR 2009): fuse the BM25 lexical ranking (workloads/text.py's
    fixed-query scorer over ``documents``) with a dense cosine ranking
    against the probe embedding (``vec_id = 0`` in ``embeddings``,
    which is 1:1 with ``doc_id``), score = sum over lists of
    1/(c + rank). This is the standard first-stage fusion in
    RAG / training-data retrieval stacks — rank-based, so the two
    scorers' incomparable score scales never need calibration.

    Determinism: ranks are integers (ties pinned by doc_id), each
    1/(c+rank) is one correctly-rounded double division and the fused
    score is ONE two-term fixed-associativity sum — no float
    aggregation at all. Scale (100 TB): each list is a
    TakeOrderedAndProject top-``_RRF_DEPTH`` (never a global sort);
    the rank window then runs over a <= ``_RRF_DEPTH``-row frame, so
    the unpartitioned window is bounded by a constant, not the corpus;
    the fusion join touches 2*depth rows.
    """
    from big_data_pipeline_spark.workloads.text import _bm25_scored

    lexw = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex = (
        _bm25_scored(spark, sf_dir)
        .filter(F.col("doc_id") != _RRF_PROBE_ID)
        .select("doc_id", "bm25")
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_RRF_DEPTH)
        .withColumn("lex_rank", F.row_number().over(lexw))
    )
    emb = read_table(spark, sf_dir, "embeddings").withColumn(
        "sqn", F.expr(sq_norm_sql("embedding", EMB_DIMS_DEFAULT, offset=0))
    )
    probe = emb.filter(F.col("vec_id") == _RRF_PROBE_ID).select(
        F.col("embedding").alias("p_vec"), F.col("sqn").alias("p_sqn")
    )
    semw = Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
    sem = (
        emb.filter(F.col("vec_id") != _RRF_PROBE_ID)
        .crossJoin(F.broadcast(probe))
        .select(
            F.col("vec_id").alias("doc_id"),
            seq_cosine(
                F.col("p_vec"), F.col("embedding"), F.col("p_sqn"), F.col("sqn")
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "doc_id")
        .limit(_RRF_DEPTH)
        .withColumn("sem_rank", F.row_number().over(semw))
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_C) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_C) + F.col("sem_rank")), F.lit(0.0)
    )
    return (
        lex.select("doc_id", "lex_rank")
        .join(sem.select("doc_id", "sem_rank"), "doc_id", "full_outer")
        .select("doc_id", "lex_rank", "sem_rank", rrf.alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(_RRF_OUT)
    )


def _rrf_sql() -> str:
    from big_data_pipeline_spark.workloads.text import _bm25_scored_sql

    return f"""
WITH lex AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
  FROM (
    SELECT doc_id, bm25 FROM ({_bm25_scored_sql()})
    WHERE doc_id <> {_RRF_PROBE_ID}
    ORDER BY bm25 DESC, doc_id LIMIT {_RRF_DEPTH}
  )
),
e AS (
  SELECT vec_id, embedding,
         {sq_norm_sql("embedding", EMB_DIMS_DEFAULT, offset=1)} AS sqn
  FROM embeddings
),
probe AS (
  SELECT embedding AS p_vec, sqn AS p_sqn FROM e
  WHERE vec_id = {_RRF_PROBE_ID}
),
sem AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS sem_rank
  FROM (
    SELECT e.vec_id AS doc_id,
           ({dot_sql("p_vec", "embedding", EMB_DIMS_DEFAULT, offset=1)})
             / (sqrt(p_sqn) * sqrt(sqn)) AS cos_sim
    FROM e, probe WHERE e.vec_id <> {_RRF_PROBE_ID}
    ORDER BY cos_sim DESC, doc_id LIMIT {_RRF_DEPTH}
  )
)
SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank,
       COALESCE(1.0e0 / ({_RRF_C} + lex_rank), 0.0e0)
         + COALESCE(1.0e0 / ({_RRF_C} + sem_rank), 0.0e0) AS rrf_score
FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT {_RRF_OUT}
"""


# --- grid_density_clusters: grid-bucketed DBSCAN over 2-D projection --------
# Density-based clustering, the grid approximation (cell side = eps):
# bucket points into eps-cells, cells holding >= minPts points are
# CORE; core cells connected through their 8-neighborhood form
# clusters; points in non-core cells adjacent to a core cell join that
# cluster as BORDER points (smallest cluster id on ties); everything
# else is noise (cluster_id = -1). Runs on the first two embedding
# dimensions — the footprint of DBSCAN over a learned 2-D projection.
#
# Scale shape — why grid, not point-pair, DBSCAN: the per-point
# eps-neighborhood join is quadratic in dense regions; the grid version
# is (1) one map-side-combinable groupBy to cells — bounded by grid
# resolution, not corpus size, (2) an 8-shift EQUI-join between core
# cells (each cell emits 8 neighbor keys; no distance join at all),
# (3) connected components on the tiny cell graph via the same
# distributed large-star machinery as the dedup clusters, (4) keyed
# joins to label points. The DuckDB oracle recomputes the components
# with a recursive CTE — different algorithm, must agree cell-exact.
# Cell coordinates come from floor(x/eps) on IEEE doubles — identical
# on both engines.

_DBSCAN_EPS = 0.04
_DBSCAN_MINPTS = 4
_DBSCAN_OFF = 512  # shifts cell coords positive for the packed cell id
_DBSCAN_W = 4096
_DBSCAN_DRIVER_MAX_CELLS = 100_000  # union-find gate (cell graph = model)


def grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_pipeline_spark.dedup.clusters import connected_components

    emb = read_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.floor(
            F.element_at("embedding", 1).cast("double") / _DBSCAN_EPS
        ).alias("cx"),
        F.floor(
            F.element_at("embedding", 2).cast("double") / _DBSCAN_EPS
        ).alias("cy"),
    )
    # Packing is only injective while both cell coords sit inside
    # [-OFF, W-OFF); coordinates beyond |eps·OFF| (~|x| > 20.5 here)
    # would silently collide packed ids and merge unrelated cells —
    # and the oracle replays the same packing, so the hash check
    # cannot catch it. Guard the range INSIDE the expression: any
    # out-of-range coordinate fails the job loudly instead.
    _in = lambda c: (F.col(c) >= -_DBSCAN_OFF) & (  # noqa: E731
        F.col(c) < _DBSCAN_W - _DBSCAN_OFF
    )
    cid = F.when(
        _in("cx") & _in("cy"),
        (F.col("cx") + _DBSCAN_OFF) * _DBSCAN_W + (F.col("cy") + _DBSCAN_OFF),
    ).otherwise(
        F.raise_error(
            F.format_string(
                "grid_density_clusters: cell (%d,%d) outside packable "
                "range [-%d, %d); raise _DBSCAN_W/_DBSCAN_OFF",
                F.col("cx"),
                F.col("cy"),
                F.lit(_DBSCAN_OFF),
                F.lit(_DBSCAN_W - _DBSCAN_OFF),
            )
        )
    ).cast("long")
    cells = (
        pts.groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("cid", cid)
    )
    core = cells.filter(F.col("n") >= _DBSCAN_MINPTS)
    shifts = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)
        ]
    )
    nbr_keys = core.select(
        F.col("cid").alias("a"),
        F.explode(shifts).alias("s"),
        "cx",
        "cy",
    ).select(
        "a",
        (F.col("cx") + F.col("s.dx")).alias("nx"),
        (F.col("cy") + F.col("s.dy")).alias("ny"),
    )
    edges = nbr_keys.join(
        core.select(
            F.col("cid").alias("b"),
            F.col("cx").alias("nx"),
            F.col("cy").alias("ny"),
        ),
        ["nx", "ny"],
    ).select("a", "b")
    # The cell graph is bounded by GRID RESOLUTION, not corpus size
    # (≤ (range/eps)² cells no matter how many points) — a model-sized
    # graph like the IVF centroids or the pagerank driver-solve gate,
    # so union-find on the collected CELL edges (never row data) beats
    # ~10 rounds of distributed iteration. Above the cap (a grid so
    # fine it stops being a model) fall back to the distributed
    # large-star machinery.
    if core.count() <= _DBSCAN_DRIVER_MAX_CELLS:
        e = edges.collect()
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in e:
            ra, rb = find(r.a), find(r.b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        labels = [(x, find(x)) for x in parent]
        comp = (
            spark.createDataFrame(labels, "cid long, cluster_id long")
            if labels
            else spark.createDataFrame([], "cid long, cluster_id long")
        )
    else:  # pragma: no cover - exercised only on degenerate grids
        comp = connected_components(edges, "a", "b").select(
            F.col("id").alias("cid"), "cluster_id"
        )
    # core cells with no core neighbor are their own singleton cluster
    cell_cluster = (
        core.join(F.broadcast(comp), "cid", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "cid"))
        .select("cx", "cy", "cid", "cluster_id")
        .localCheckpoint()
    )
    labeled = pts.withColumn("cid", cid).join(
        cell_cluster.select("cid", "cluster_id"), "cid", "left"
    )
    in_core = labeled.filter(F.col("cluster_id").isNotNull()).select(
        "vec_id", "cluster_id", F.lit(True).alias("is_core")
    )
    border_cand = (
        labeled.filter(F.col("cluster_id").isNull())
        .select("vec_id", F.explode(shifts).alias("s"), "cx", "cy")
        .select(
            "vec_id",
            (F.col("cx") + F.col("s.dx")).alias("nx"),
            (F.col("cy") + F.col("s.dy")).alias("ny"),
        )
        .join(
            cell_cluster.select(
                F.col("cx").alias("nx"),
                F.col("cy").alias("ny"),
                "cluster_id",
            ),
            ["nx", "ny"],
            "left",
        )
        .groupBy("vec_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .select(
            "vec_id",
            F.coalesce("cluster_id", F.lit(-1)).alias("cluster_id"),
            F.lit(False).alias("is_core"),
        )
    )
    return in_core.unionByName(border_cand)


def _dbscan_sql() -> str:
    return f"""
WITH RECURSIVE pts AS (
  SELECT vec_id,
         CAST(FLOOR(CAST(embedding[1] AS DOUBLE) / {_DBSCAN_EPS}) AS BIGINT) AS cx,
         CAST(FLOOR(CAST(embedding[2] AS DOUBLE) / {_DBSCAN_EPS}) AS BIGINT) AS cy
  FROM embeddings
),
cells AS (
  SELECT cx, cy, COUNT(*) AS n,
         (cx + {_DBSCAN_OFF}) * {_DBSCAN_W} + (cy + {_DBSCAN_OFF}) AS cid
  FROM pts GROUP BY cx, cy
),
core AS (SELECT * FROM cells WHERE n >= {_DBSCAN_MINPTS}),
shifts(dx, dy) AS (
  VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1)
),
edges0 AS (
  SELECT a.cid AS a, b.cid AS b
  FROM core a, shifts s
  JOIN core b ON b.cx = a.cx + s.dx AND b.cy = a.cy + s.dy
),
edges AS (SELECT a, b FROM edges0 UNION SELECT b AS a, a AS b FROM edges0),
reach(id, label) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.id
),
comp AS (SELECT id AS cid, MIN(label) AS cluster_id FROM reach GROUP BY id),
cell_cluster AS (
  SELECT core.cx, core.cy, core.cid,
         COALESCE(comp.cluster_id, core.cid) AS cluster_id
  FROM core LEFT JOIN comp USING (cid)
),
labeled AS (
  SELECT p.vec_id, p.cx, p.cy, cc.cluster_id
  FROM pts p LEFT JOIN cell_cluster cc ON cc.cx = p.cx AND cc.cy = p.cy
),
in_core AS (
  SELECT vec_id, cluster_id, TRUE AS is_core
  FROM labeled WHERE cluster_id IS NOT NULL
),
border AS (
  SELECT l.vec_id,
         COALESCE(MIN(cc.cluster_id), -1) AS cluster_id,
         FALSE AS is_core
  FROM labeled l
  CROSS JOIN shifts s
  LEFT JOIN cell_cluster cc
    ON cc.cx = l.cx + s.dx AND cc.cy = l.cy + s.dy
  WHERE l.cluster_id IS NULL
  GROUP BY l.vec_id
)
SELECT vec_id, cluster_id, is_core FROM in_core
UNION ALL
SELECT vec_id, cluster_id, is_core FROM border
"""


# --- reciprocal_best_match: mutual nearest-neighbor alignment ---------------
# The alignment primitive of bilingual-lexicon induction / cross-
# catalog entity matching (e.g. MUSE, Conneau et al. 2018): vector i
# matches vector j only when each is the other's TOP-1 cosine
# neighbor — mutual-NN filtering kills the hub-vector false matches
# plain top-1 retrieval produces. Runs over a bounded alignment slice
# (the entity sets being matched are model-sized: two catalogs, two
# vocabularies); at corpus scale the directed top-1s come from the
# IVF/LSH retrieval ops and this operator is just the mutual join on
# their outputs.
#
# Plan: slice broadcasts (bounded), directed best is one windowed
# top-1 per source, mutuality is a self-equi-join on the reversed
# pair, emitted once with vec_a < vec_b.

_RBM_N = 150  # alignment slice: vectors being matched


def reciprocal_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _RBM_N
    ).withColumn(
        "sqn", F.expr(sq_norm_sql("embedding", EMB_DIMS_DEFAULT, offset=0))
    )
    a = emb.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("a_vec"),
        F.col("sqn").alias("a_sqn"),
    )
    b = emb.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("b_vec"),
        F.col("sqn").alias("b_sqn"),
    ).repartition(spark.sparkContext.defaultParallelism)
    scored = (
        b.crossJoin(F.broadcast(a))
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "cos_sim",
            seq_cosine(
                F.col("a_vec"), F.col("b_vec"), F.col("a_sqn"), F.col("b_sqn")
            ),
        )
        .select("src", "dst", "cos_sim")
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), F.asc("dst"))
    best = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    ).select("src", "dst", "cos_sim")
    fwd, rev = best.alias("fwd"), best.alias("rev")
    return (
        fwd.join(
            rev,
            (F.col("fwd.src") == F.col("rev.dst"))
            & (F.col("fwd.dst") == F.col("rev.src")),
        )
        .filter(F.col("fwd.src") < F.col("fwd.dst"))
        .select(
            F.col("fwd.src").alias("vec_a"),
            F.col("fwd.dst").alias("vec_b"),
            F.col("fwd.cos_sim").alias("cos_sim"),
        )
    )


_RBM_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding,
         {sq_norm_sql("embedding", EMB_DIMS_DEFAULT, offset=1)} AS sqn
  FROM embeddings WHERE vec_id < {_RBM_N}
),
scored AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         ({dot_sql("a.embedding", "b.embedding", EMB_DIMS_DEFAULT, offset=1)})
           / (sqrt(a.sqn) * sqrt(b.sqn)) AS cos_sim
  FROM e a, e b WHERE a.vec_id <> b.vec_id
),
best AS (
  SELECT src, dst, cos_sim FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                 ORDER BY cos_sim DESC, dst ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT f.src AS vec_a, f.dst AS vec_b, f.cos_sim
FROM best f JOIN best r ON f.src = r.dst AND f.dst = r.src
WHERE f.src < f.dst
"""


# --- ndcg_matryoshka_prefix: ranking-quality eval of truncated embeddings ---
# The MRL evaluation metric (Kusupati et al. 2022): how much ranking
# quality survives truncating embeddings to a prefix? For each query,
# rank the corpus by PREFIX-dim cosine and score that ranking with
# nDCG@K against graded relevance from the FULL-dim ranking
# (rel = K+1-exact_rank for the true top-K, 0 otherwise). Both
# rankings are deterministic cosine orderings, so unlike the
# IVF/LSH recall reports this retrieval-quality metric is fully
# oracle-checkable. Discount factors 1/log2(pos+1) are shared literal
# constants (computed once host-side), and the DCG sum accumulates
# through DECIMAL(38,6) with the VARCHAR-routed decimal->double cast
# (oracle.py discipline) so partial-agg order cannot show.
#
# Scale: two broadcast-query scorings over one corpus pass each,
# WindowGroupLimit top-K, a K x K-bounded join per query. IDCG is a
# compile-time constant.

_NDCG_K = 10
_NDCG_DIMS = 16
_NDCG_DISC = tuple(1.0 / _math.log2(i + 1) for i in range(1, _NDCG_K + 1))
_NDCG_IDCG = sum(
    (_NDCG_K + 1 - i) * _NDCG_DISC[i - 1] for i in range(1, _NDCG_K + 1)
)


def ndcg_matryoshka_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.slice("embedding", 1, _NDCG_DIMS).alias("prefix"),
        F.expr(sq_norm_sql("embedding", EMB_DIMS_DEFAULT, offset=0)).alias(
            "sqn"
        ),
        F.expr(sq_norm_sql("embedding", _NDCG_DIMS, offset=0)).alias(
            "p_sqn"
        ),
    )
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("prefix").alias("q_pre"),
        F.col("sqn").alias("q_sqn"),
        F.col("p_sqn").alias("q_psqn"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.col("prefix").alias("c_pre"),
        F.col("sqn").alias("c_sqn"),
        F.col("p_sqn").alias("c_psqn"),
    ).repartition(spark.sparkContext.defaultParallelism)
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.desc("full_cos"), F.asc("neighbor_id")
    )
    exact = (
        pairs.withColumn(
            "full_cos",
            seq_cosine(
                F.col("q_vec"), F.col("c_vec"), F.col("q_sqn"), F.col("c_sqn")
            ),
        )
        .withColumn("exact_rank", F.row_number().over(w_full))
        .filter(F.col("exact_rank") <= _NDCG_K)
        .select("query_id", "neighbor_id", "exact_rank")
    )
    w_pre = Window.partitionBy("query_id").orderBy(
        F.desc("pre_cos"), F.asc("neighbor_id")
    )
    pre = (
        pairs.withColumn(
            "pre_cos",
            seq_cosine(
                F.col("q_pre"), F.col("c_pre"), F.col("q_psqn"), F.col("c_psqn")
            ),
        )
        .withColumn("pos", F.row_number().over(w_pre))
        .filter(F.col("pos") <= _NDCG_K)
        .select("query_id", "neighbor_id", "pos")
    )
    disc = F.element_at(
        F.array(*[F.lit(d) for d in _NDCG_DISC]), F.col("pos")
    )
    rel = F.coalesce(
        (_NDCG_K + 1 - F.col("exact_rank")).cast("double"), F.lit(0.0)
    )
    scored = pre.join(exact, ["query_id", "neighbor_id"], "left").select(
        "query_id",
        (rel * disc).alias("gain"),
        F.when(F.col("exact_rank").isNotNull(), 1).otherwise(0).alias("hit"),
    )
    return scored.groupBy("query_id").agg(
        exact_sum("gain", "dcg"),
        (exact_sum("gain") / F.lit(_NDCG_IDCG)).alias("ndcg"),
        F.sum("hit").cast("bigint").alias("n_overlap"),
    )


def _ndcg_sql() -> str:
    disc_list = ", ".join(repr(d) for d in _NDCG_DISC)
    return f"""
WITH e AS (
  SELECT vec_id, embedding,
         {sq_norm_sql("embedding", EMB_DIMS_DEFAULT, offset=1)} AS sqn,
         {sq_norm_sql("embedding", _NDCG_DIMS, offset=1)} AS p_sqn
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS q_vec, sqn AS q_sqn,
             p_sqn AS q_psqn
      FROM e WHERE vec_id < {_N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec, sqn AS c_sqn,
             p_sqn AS c_psqn FROM e),
pairs AS (
  SELECT query_id, neighbor_id,
         ({dot_sql("q_vec", "c_vec", EMB_DIMS_DEFAULT, offset=1)})
           / (sqrt(q_sqn) * sqrt(c_sqn)) AS full_cos,
         ({dot_sql("q_vec", "c_vec", _NDCG_DIMS, offset=1)})
           / (sqrt(q_psqn) * sqrt(c_psqn)) AS pre_cos
  FROM q, c WHERE query_id <> neighbor_id
),
exact AS (
  SELECT query_id, neighbor_id, exact_rank FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY full_cos DESC, neighbor_id ASC)
             AS exact_rank
    FROM pairs
  ) WHERE exact_rank <= {_NDCG_K}
),
pre AS (
  SELECT query_id, neighbor_id, pos FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY pre_cos DESC, neighbor_id ASC) AS pos
    FROM pairs
  ) WHERE pos <= {_NDCG_K}
),
scored AS (
  SELECT p.query_id,
         CAST(COALESCE(CAST({_NDCG_K} + 1 - exact_rank AS DOUBLE), 0.0)
              * ([{disc_list}])[pos] AS DECIMAL(38,6)) AS gain,
         CASE WHEN exact_rank IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM pre p LEFT JOIN exact x USING (query_id, neighbor_id)
)
SELECT query_id,
       CAST(CAST(SUM(gain) AS VARCHAR) AS DOUBLE) AS dcg,
       CAST(CAST(SUM(gain) AS VARCHAR) AS DOUBLE) / {_NDCG_IDCG!r} AS ndcg,
       CAST(SUM(hit) AS BIGINT) AS n_overlap
FROM scored GROUP BY query_id
"""


# --- embedding_topm_sparsify: dense -> sparse COO truncation ----------------
# Retrieval-index prep: keep each vector's m largest-magnitude
# coordinates (the SPLADE-style sparsification shape) as COO rows
# (vec_id, dim, val, rank). One posexplode + a per-vector top-m window
# — WindowGroupLimit keeps the partial top-m before the shuffle, and
# the output is bounded by n_vectors x m regardless of dimensionality.

_SPARSIFY_M = 8


def embedding_topm_sparsify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    coo = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("dim"),
        F.col("val").cast("double").alias("val"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc(F.abs("val")), F.asc("dim")
    )
    return (
        coo.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _SPARSIFY_M)
        .select("vec_id", "dim", "val", "rank")
    )


_SPARSIFY_SQL = f"""
SELECT vec_id, dim, val, "rank" FROM (
  SELECT vec_id, dim, val,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY ABS(val) DESC, dim ASC) AS "rank"
  FROM (
    SELECT vec_id, u.i AS dim, CAST(embedding[u.i] AS DOUBLE) AS val
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
  )
) WHERE "rank" <= {_SPARSIFY_M}
"""


QUERIES = {
    "ndcg_matryoshka_prefix": ndcg_matryoshka_prefix,
    "embedding_topm_sparsify": embedding_topm_sparsify,
    "reciprocal_best_match": reciprocal_best_match,
    "grid_density_clusters": grid_density_clusters,
    "rrf_hybrid_retrieval": rrf_hybrid_retrieval,
    "knn_cosine_topk": knn_cosine_topk,
    "maxsim_multivector_topk": maxsim_multivector_topk,
    "semdedup_prune": semdedup_prune,
    "knn_matryoshka_rerank": knn_matryoshka_rerank,
    "embedding_pq_codes": embedding_pq_codes,
    "hard_negative_mining": hard_negative_mining,
    "contrastive_negative_pairs": contrastive_negative_pairs,
    "label_centroid_margin": label_centroid_margin,
    "kmeans_assign_embeddings": kmeans_assign_embeddings,
    "kmeans_topic_terms": kmeans_topic_terms,
    "embedding_quantize_int8": embedding_quantize_int8,
    "knn_ivf_topk": knn_ivf_topk,
    "embedding_norm_stats": embedding_norm_stats,
    "knn_lsh_topk": knn_lsh_topk,
    "ann_recall_report": ann_recall_report,
    "knn_label_vote": knn_label_vote,
}

ORACLE = {
    "ndcg_matryoshka_prefix": _ndcg_sql(),
    "embedding_topm_sparsify": _SPARSIFY_SQL,
    "reciprocal_best_match": _RBM_SQL,
    "grid_density_clusters": _dbscan_sql(),
    "rrf_hybrid_retrieval": _rrf_sql(),
    "knn_cosine_topk": _KNN_SQL,
    "maxsim_multivector_topk": _maxsim_sql(),
    "semdedup_prune": _semdedup_sql(),
    "knn_matryoshka_rerank": _MRL_SQL,
    "embedding_pq_codes": _pq_sql(),
    "hard_negative_mining": _HARD_NEG_SQL,
    "contrastive_negative_pairs": _CONTRASTIVE_SQL,
    "label_centroid_margin": _label_margin_sql(),
    "kmeans_assign_embeddings": _kmeans_assign_sql(),
    "kmeans_topic_terms": _topic_terms_sql(),
    "embedding_quantize_int8": _quantize_sql(),
    "embedding_norm_stats": _NORM_STATS_SQL,
    "knn_label_vote": _KNN_VOTE_SQL,
    "ann_recall_report": _ann_recall_sql(),
    "knn_lsh_topk": _knn_lsh_sql(),
}
