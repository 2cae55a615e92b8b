"""Iterative clustering over the embedding column — the "iterative
algorithm" operator family (SURVEY.md §2 group H extension; the driver's
contract explicitly carves out iterative algorithms as rows-only-checked).

K-means is THE canonical corpus-organization pass in training-data
pipelines (domain balancing, semantic dedup blocking, curriculum
bucketing). The implementation is a driver-side loop over pure DataFrame
ops, shaped for scale:

  * the DATASET never leaves the cluster — each iteration is one scan:
    assign each vector to its nearest centroid (k JVM-side higher-order
    distance expressions, whole-stage codegen'd, no Python), then
    recompute centroids with posexplode → (cluster, dim) partial means
    (map-side combined, shuffle rows = k × dim, independent of N);
  * only the CENTROIDS (k × dim doubles — bytes, regardless of N) are
    collected and re-broadcast as literals each iteration, the textbook
    Lloyd's-on-MapReduce layout;
  * centroids are rounded to 9 decimals each iteration, which pins down
    float-sum order nondeterminism → byte-stable assignments run-to-run;
  * convergence by centroid drift with an iteration cap, so the loop is
    bounded even on adversarial data.

Checked rows-only by the driver; tests/test_clustering.py property-checks
determinism, assignment optimality (every point sits with its nearest
centroid), inertia monotonicity, and cluster-count correctness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from avro_parquet_spark_example_spark.operators.iteration import iterate, unroll_sql
from avro_parquet_spark_example_spark.operators.simsearch import sql_double_array
from avro_parquet_spark_example_spark.registry import register
from avro_parquet_spark_example_spark.sources.catalog import load

K = 8
MAX_ITERS = 12
DRIFT_EPS = 1e-7


def _sq_dist_sql(vec_sql: str, centroid: list[float]) -> str:
    """Squared L2 distance between an array<float> column and a literal
    centroid — a fold over zip_with, evaluated JVM-side. Emitted as SQL
    text (one JVM parse for the whole per-round distance array instead
    of ~2 py4j round trips per centroid element — at k=8 × 64 dims ×
    12 Lloyd rounds the Column-object build cost ~0.8 s/round of pure
    driver time, the r15 profile's dominant cluster_kmeans cost). The
    tree — zip_with / POWER(x - y, 2) / ordered fold — is the same one
    the Column form produced, so assignments and centroids are
    bit-identical."""
    lit_c = sql_double_array(centroid)
    return (
        f"aggregate(zip_with({vec_sql}, {lit_c},"
        " (x, y) -> POWER(CAST(x AS DOUBLE) - y, 2.0D)),"
        " 0.0D, (acc, v) -> acc + v)"
    )


def assign_clusters(vectors: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """vectors(vec_id, embedding) → + cluster (nearest centroid id) and
    sq_dist. One narrow projection, no shuffle."""
    dists = F.expr(
        "array("
        + ",".join(_sq_dist_sql("embedding", c) for c in centroids)
        + ")"
    )
    return vectors.select(
        "vec_id",
        "embedding",
        (F.array_position(dists, F.array_min(dists)) - 1).cast("int").alias("cluster"),
        F.array_min(dists).alias("sq_dist"),
    )


def _recompute(assigned: DataFrame, k: int, dim: int) -> list[list[float]]:
    """New centroids: per-(cluster, dimension) means via posexplode. The
    shuffle carries at most k × dim combined partials; the collect is
    k × dim doubles — both independent of the number of vectors."""
    rows = (
        assigned.select("cluster", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("cluster", "dim")
        .agg(F.avg(F.col("val").cast("double")).alias("mean"))
        .collect()
    )
    by_cluster: dict[int, list[float]] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], [0.0] * dim)[r["dim"]] = round(r["mean"], 9)
    # an emptied cluster keeps its previous position only if absent entirely
    return [by_cluster.get(c) for c in range(k)]


def kmeans_fit(
    vectors: DataFrame, k: int = K, max_iters: int = MAX_ITERS
) -> tuple[list[list[float]], int]:
    """Lloyd's algorithm; deterministic init = the k vectors with the
    smallest ids (stable across runs and partitionings). Returns
    (centroids, iterations_run)."""
    first = vectors.orderBy("vec_id").limit(k).collect()
    if not first:
        raise ValueError("kmeans_fit: input has no rows")
    # fewer rows than k → fit the clusters the data can support (keeps
    # _recompute's k-sized slot math consistent with len(centroids))
    k = min(k, len(first))
    dim = len(first[0]["embedding"])
    centroids = [[round(float(x), 9) for x in r["embedding"]] for r in first]
    iters = 0
    for _ in range(max_iters):
        assigned = assign_clusters(vectors, centroids)
        new = _recompute(assigned, k, dim)
        new = [n if n is not None else centroids[i] for i, n in enumerate(new)]
        iters += 1
        drift = max(
            sum((a - b) ** 2 for a, b in zip(old, nw))
            for old, nw in zip(centroids, new)
        )
        centroids = new
        if drift < DRIFT_EPS:
            break
    return centroids, iters


@register("cluster_kmeans")
def cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H12 — k-means corpus clustering (k=8 over the 64-d embeddings):
    per-cluster size and mean within-cluster squared distance (inertia
    contribution), the summary a pipeline uses for domain balancing.
    Iterative; rows-only driver check, property-tested in
    tests/test_clustering.py."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids, _ = kmeans_fit(e)
    assigned = assign_clusters(e, centroids)
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("sq_dist"), 6).alias("mean_sq_dist"),
    )


def _km_round_sql(cent: str, assign: str, nxt: str) -> str:
    """One exact k-means round: integer squared distances against ``cent``,
    deterministic argmin, floor-averaged fixed-point update into ``nxt``."""
    return f"""
    {assign}_d AS (
        SELECT f.vec_id, c.cluster,
               SUM((f.v7 - c.c7) * (f.v7 - c.c7)) AS dist
        FROM fixed f JOIN {cent} c ON c.pos = f.pos
        GROUP BY f.vec_id, c.cluster
    ),
    {assign} AS (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rn
            FROM {assign}_d)
        WHERE rn = 1
    ),
    {nxt} AS (
        SELECT a.cluster, f.pos,
               CAST(FLOOR(CAST(SUM(f.v7) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS c7
        FROM {assign} a JOIN fixed f ON f.vec_id = a.vec_id
        GROUP BY a.cluster, f.pos
    )"""


#: Exact k-means geometry: k seeds (lowest vec_ids), 2 unrolled rounds.
KM_EXACT_K = 4
KM_EXACT_ROUNDS = 2


@register(
    "cluster_kmeans_exact",
    oracle="""
    WITH fixed AS (
        SELECT vec_id, r.range AS pos,
               CAST(FLOOR(CAST(embedding[CAST(r.range AS INT)] AS DOUBLE)
                          * 10000000) AS BIGINT) AS v7
        FROM embeddings, RANGE(1, 65) r
    ),
    c0 AS (SELECT vec_id AS cluster, pos, v7 AS c7 FROM fixed
           WHERE vec_id < 4),
    """
    + unroll_sql(_km_round_sql, KM_EXACT_ROUNDS, "c{i}", "a{j}", "c{j}")
    + """
    SELECT c.cluster, c.pos, c.c7, n.n
    FROM c2 c
    JOIN (SELECT cluster, COUNT(*) AS n FROM a2 GROUP BY cluster) n
      ON n.cluster = c.cluster
    """,
)
def cluster_kmeans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-cluster — ORACLE-CHECKED k-means (k=4, 2 unrolled Lloyd rounds):
    the iterative-ML twin of the rows-only cluster_kmeans, made
    hash-comparable end-to-end by doing EVERY step in fixed-point
    integers: embeddings quantized to 7 decimal digits (float32's
    precision budget), squared distances as exact int64 sums (≤ 2.6e16,
    no overflow), argmin with a cluster-id tiebreak, and centroid updates
    floor-averaged back onto the fixed-point grid. No float accumulates
    across rows anywhere, so Spark and the DuckDB unrolled-CTE twin agree
    bit-for-bit — assignments included. Output is the round-2 centroid
    table (long form) with final member counts.

    Scale: the centroid side is k×dim rows (broadcast); assignment is one
    map-side-combined (vec, cluster) sum + a per-vector argmin window;
    the update is one (cluster, dim) aggregate — Lloyd's algorithm in
    exactly the shape kmeans_fit runs it, with quantization replacing the
    float centroids that keep that variant rows-only. The member count
    rides in that aggregate: a member has one row per dim, so
    ``count(*)`` per (cluster, pos) is the cluster size."""
    e = load(spark, sf_dir, "embeddings")
    # NO checkpoint on `fixed` (r16, bounded-frame rule): it is the
    # corpus ×64 posexplode — materializing it to executor storage at
    # scale costs 64× the table and truncates lineage; the consumers
    # (2 joins per round + the seed filter) re-plan a cheap pruned
    # scan+explode instead. Per-round `cents` checkpoints (k×dim rows,
    # bounded) keep the round lineage flat. Interleaved A/B at sf0.1:
    # flat-to-slightly-better lazy (2.02/1.65 ckpt vs 1.99/1.59 s),
    # outputs identical.
    fixed = e.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        F.floor(F.col("val").cast("double") * 10000000).alias("v7"),
    )
    cents = fixed.filter(F.col("vec_id") < KM_EXACT_K).select(
        F.col("vec_id").alias("cluster"), "pos", F.col("v7").alias("c7")
    )
    from pyspark.sql import Window

    def step(cents: DataFrame) -> DataFrame:
        d = (
            fixed.join(F.broadcast(cents), "pos")
            .groupBy("vec_id", "cluster")
            .agg(
                F.sum(
                    (F.col("v7") - F.col("c7")) * (F.col("v7") - F.col("c7"))
                ).alias("dist")
            )
        )
        w = Window.partitionBy("vec_id").orderBy("dist", "cluster")
        assign = (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cluster")
        )
        return (
            assign.join(fixed, "vec_id")
            .groupBy("cluster", "pos")
            .agg(F.sum("v7").alias("s"), F.count(F.lit(1)).alias("n"))
            .select(
                "cluster",
                "pos",
                F.floor(F.col("s").cast("double") / F.col("n")).alias("c7"),
                "n",
            )
        )

    cents, _ = iterate(cents, step, KM_EXACT_ROUNDS)
    return cents


# ---------------------------------------------------------------------------
# Greedy k-center (farthest-point) seeding — exact, oracle-checked

#: Centers selected by the deterministic farthest-point sweep.
KCENTER_K = 4


def _kcenter_sql(k: int) -> str:
    """Unrolled DuckDB twin of the farthest-point sweep: d{i} is each
    vector's exact integer distance to the chosen set after i picks;
    c{i+1} is the argmax (min-vec_id tiebreak)."""
    parts = [
        """
    WITH fixed AS (
        SELECT vec_id, r.range AS pos,
               CAST(FLOOR(CAST(embedding[CAST(r.range AS INT)] AS DOUBLE)
                          * 10000000) AS BIGINT) AS v7
        FROM embeddings, RANGE(1, 65) r
    ),
    c1 AS (SELECT MIN(vec_id) AS cid FROM fixed),
    d1 AS (
        SELECT f.vec_id,
               CAST(SUM((f.v7 - g.v7) * (f.v7 - g.v7)) AS BIGINT) AS dist
        FROM fixed f
        JOIN fixed g ON g.vec_id = (SELECT cid FROM c1)
                    AND g.pos = f.pos
        GROUP BY f.vec_id
    )"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f"""
    , c{i} AS (
        SELECT vec_id AS cid, dist AS radius FROM d{i - 1}
        ORDER BY dist DESC, vec_id LIMIT 1
    ),
    nd{i} AS (
        SELECT f.vec_id,
               CAST(SUM((f.v7 - g.v7) * (f.v7 - g.v7)) AS BIGINT) AS dist
        FROM fixed f
        JOIN fixed g ON g.vec_id = (SELECT cid FROM c{i})
                    AND g.pos = f.pos
        GROUP BY f.vec_id
    ),
    d{i} AS (
        SELECT p.vec_id, LEAST(p.dist, n.dist) AS dist
        FROM d{i - 1} p JOIN nd{i} n ON n.vec_id = p.vec_id
    )"""
        )
    selects = [
        "SELECT 1 AS sel_rank, (SELECT cid FROM c1) AS vec_id,"
        " CAST(0 AS BIGINT) AS radius7"
    ]
    for i in range(2, k + 1):
        selects.append(
            f"SELECT {i}, (SELECT cid FROM c{i}),"
            f" (SELECT radius FROM c{i})"
        )
    return "".join(parts) + "\n    " + "\n    UNION ALL ".join(selects)


@register("cluster_kcenter_greedy", oracle=_kcenter_sql(KCENTER_K))
def cluster_kcenter_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3a' — deterministic greedy k-center (Gonzalez farthest-point)
    seeding over the full embeddings table: start at the minimum vec_id,
    then repeatedly select the vector FARTHEST from the chosen set
    (min-vec_id tiebreak) — the 2-approximation to the k-center cover
    and the deterministic stand-in for k-means++ where an RNG seed would
    break cross-engine hash checks. Output (sel_rank, vec_id, radius7):
    radius7 is the selected point's exact integer distance to the
    previously chosen set — a non-increasing sequence whose i-th value
    bounds the covering radius with i−1 centers (the diagnostic used to
    pick k). Distances are pure BIGINT sums of squared fixed-point
    diffs (the ``vec_nearest_centroid_assign`` machinery); the running
    min folds one new center per round.

    Scale shape: each of the k−1 rounds is ONE linear pass — a 64-row
    broadcast join on dim, a (vec)-keyed map-side-combined distance
    roll-up, an elementwise LEAST with the running min, and a global
    top-1 (TakeOrdered, no full sort). Driver state is k rows. The
    at-scale variant amortizes rounds over a √n sample first (standard
    two-phase k-center); the exact sweep here is the auditable core."""
    return kcenter_greedy(load(spark, sf_dir, "embeddings"))


def kcenter_greedy(pool: DataFrame, k: int = KCENTER_K) -> DataFrame:
    """(sel_rank, vec_id, radius7) farthest-point sweep over a
    (vec_id, embedding) frame — the library form the Engine facade
    exposes; ``cluster_kcenter_greedy`` is its registered
    oracle-checked instance (the facade-parity single-source rule)."""
    fixed = pool.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("val").cast("double") * 10000000).alias("v7"),
    )
    fixed = fixed.persist()
    fixed.count()
    spark_sess = pool.sparkSession

    def dist_to(cid: int) -> DataFrame:
        g = fixed.filter(F.col("vec_id") == cid).select(
            "pos", F.col("v7").alias("c7")
        )
        diff = F.col("v7") - F.col("c7")
        return (
            fixed.join(F.broadcast(g), "pos")
            .groupBy("vec_id")
            .agg(F.sum(diff * diff).cast("bigint").alias("dist"))
        )

    first = fixed.agg(F.min("vec_id")).collect()[0][0]
    picks = [(1, int(first), 0)]
    running = dist_to(int(first))
    for i in range(2, k + 1):
        top = (
            running.orderBy(F.desc("dist"), F.asc("vec_id")).limit(1).collect()[0]
        )
        picks.append((i, int(top["vec_id"]), int(top["dist"])))
        if i < k:
            # lineage-PRESERVING materialization of the corpus-sized
            # running-min frame (the r10 flake-class rule: no eager
            # localCheckpoint on full-corpus frames)
            nd = dist_to(int(top["vec_id"])).withColumnRenamed("dist", "nd")
            prev = running
            running = (
                prev.join(nd, "vec_id")
                .select("vec_id", F.least("dist", "nd").alias("dist"))
                .persist(StorageLevel.DISK_ONLY)
            )
            running.count()
            prev.unpersist()
    # the FINAL running frame (persisted on the last i<k round) must be
    # released too — leaving it cached leaks a corpus-sized DISK_ONLY
    # block per call in long single-JVM sessions (ADVICE r11 #2);
    # unpersist is a no-op when the k<=2 path never persisted it.
    running.unpersist()
    fixed.unpersist()
    return spark_sess.createDataFrame(
        picks, "sel_rank int, vec_id bigint, radius7 bigint"
    ).select(
        F.col("sel_rank").cast("int").alias("sel_rank"),
        "vec_id",
        "radius7",
    )
