"""Similarity search over embeddings (north-star LLM-pipeline set).

Three paths:
- `sim_topk_cosine`: brute-force top-k cosine — the correctness baseline.
  Query set x full candidate set via a broadcast of the (small) query side,
  dot products in double, per-query window top-k. Full DuckDB oracle.
- `sim_topk_lsh`: the 100 TB path — random-hyperplane LSH with MULTI-PROBE
  (own bucket + all Hamming-1 buckets): only candidates in a probed bucket
  are scored. Hyperplanes derive from the engine-portable LCG, so the
  ENTIRE pipeline (bucketing, candidate generation, scoring, ranking) is
  re-expressible in DuckDB SQL — the oracle verifies it end to end.
- `sim_topk_ivf`: IVF-flat — a coarse quantizer partitions the space into
  K_CELLS Voronoi cells; candidates are assigned map-side, queries'
  probe cells are selected driver-side over the held centroid table and
  shipped as a literal cell->queries map, candidate generation is the
  map lookup + a plain query_id join. The registered query uses
  DETERMINISTIC MEDOID seeds (fixed vec_ids) so the quantizer is
  engine-portable and fully oracle-checked; `sim_topk_ivf_kmeans` is the
  same shape with a KMeans quantizer trained on a bounded sample,
  registered under a recall-contract oracle (micro-avg recall >= 1/2 vs
  exact brute force, integer-exact compare).
- `embedding_quantize_int8`: symmetric per-vector int8 quantization with
  a reconstruction-error contract — the 4x storage/IO lever a 100 TB
  embedding lake actually persists.

Scale notes: brute force is O(|Q| x N) — fine only because |Q| is fixed and
broadcast; the LSH/IVF paths replace the candidate set with an equality join
on a derived key (bucket/cell id), the only shape that survives when N is
billions of vectors. Assignment stays inside whole-stage codegen (centroids
ride along as plan literals — no join, no shuffle). Ranking uses
round(cos, 6) with a vec_id tiebreak so ordering is stable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import cpu_spread, load
from ..registry import query

N_QUERIES = 10
TOP_K = 5
# Classic L-table LSH: L independent tables of N_PLANES sign bits each.
# Fewer planes per table = coarser (higher-recall) buckets; more tables =
# independent chances to catch a neighbor. Recall ~ 1-(1-p)^L.
N_PLANES = 6
L_TABLES = 4
TABLE_SPAN = 1 << N_PLANES  # bucket ids of table t live in [t*SPAN, (t+1)*SPAN)
LCG_A = 1103515245
LCG_C = 12345
LCG_M = 2**31

K_CELLS = 16
N_PROBE = 4  # trained (k-means) quantizer probe count
# The medoid quantizer's cells are coarser than k-means' (seeds are data
# points, not optimized centers), so the registered query probes more
# cells to hold recall — the standard IVF recall/cost dial.
N_PROBE_MEDOID = 8


def _dvec(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _rank_topk(scored: DataFrame) -> DataFrame:
    """Shared tail: per-query row_number on round(cos,6) desc with vec_id
    tiebreak (deterministic — ties never inflate the kept set past
    TOP_K, unlike dense_rank), keep TOP_K, round display cosine to 4."""
    w = Window.partitionBy("query_id").orderBy(
        F.round("cos", 6).desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_K)
        .select("query_id", "rnk", "vec_id", F.round("cos", 4).alias("cos_sim"))
    )


# Shared SQL tail for the oracles (identical ranking semantics).
_RANK_SQL = f"""
    ranked AS (
      SELECT query_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY round(cos, 6) DESC, vec_id) AS rnk
      FROM scored
    )
    SELECT query_id, rnk, vec_id, round(cos, 4) AS cos_sim
    FROM ranked WHERE rnk <= {TOP_K}
"""


def _fresh_vecs(
    spark: SparkSession, sf_dir: str, spread: bool = True
) -> DataFrame:
    """`spread=False` skips the CPU-budget repartition: the brute-force
    cosine baseline and the k-means TRAIN sample measured the spread's
    exchange as pure overhead (their per-pair work is tiny / the fit
    persists its input once), while the LSH/IVF candidate paths
    measured 0.63-0.81x with it — interleaved A/B, three sessions."""
    vecs = load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("v")
    )
    return cpu_spread(vecs, "vec_id") if spread else vecs


@query(
    "sim_topk_cosine",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), queries AS (
      SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < {N_QUERIES}
    ), scored AS (
      SELECT q.query_id, c.vec_id,
             list_dot_product(q.qv, c.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v)))
               AS cos
      FROM queries q JOIN vecs c ON q.query_id <> c.vec_id
    ), {_RANK_SQL}
    """,
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k cosine: the first 10 (N_QUERIES) vectors are queries;
    candidates are all other vectors. Broadcast the query side (tiny), score
    JVM-side via zip_with/aggregate, rank per query."""
    # norms are per-VECTOR, so compute them once per row before the join —
    # not per (query, candidate) pair inside it (3x less higher-order-fn
    # work; float-identical because the expression shape is unchanged)
    vecs = _fresh_vecs(spark, sf_dir, spread=False).withColumn(
        "nv", F.sqrt(_dot(F.col("v"), F.col("v")))
    )
    queries = vecs.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    scored = (
        vecs.join(F.broadcast(queries), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            (
                _dot(F.col("qv"), F.col("v")) / (F.col("nq") * F.col("nv"))
            ).alias("cos"),
        )
    )
    return _rank_topk(scored)


def _lsh_bucket(v: Column, table: int, n_planes: int = N_PLANES) -> Column:
    """Sign-bit bucket of hash table `table`: n_planes deterministic
    pseudo-random hyperplanes (plane id = table*n_planes + p, so every
    table draws independent planes). Hyperplane component d =
    (lcg2(plane*1000+d) % 2001 - 1000) / 1000, the same portable LCG the
    datagen uses — reproducible anywhere (the DuckDB oracle recomputes
    identical planes), no stored model. Bucket ids are offset by
    table*(1 << n_planes) so all tables share one join column.

    `n_planes` defaults to the frozen N_PLANES (sim_topk_lsh's oracle
    bakes that constant in, so the default path is bit-identical); the
    MaxSim ANN candidate generator dials it up as the corpus grows so
    bucket occupancy — and with it collision-join cost — stays bounded
    (the FAISS nlist-grows-with-N practice, same as SemDeDup's k)."""

    def plane_dot(p: int) -> Column:
        def comp(x, i):
            # cast before multiplying: sequence indices are 32-bit INTs and
            # the LCG multiplier overflows them under ANSI arithmetic
            s = (F.lit(p) * 1000 + i).cast("bigint") * LCG_A + LCG_C
            s = s % LCG_M
            s = (s * LCG_A + LCG_C) % LCG_M
            return x * ((s % 2001 - 1000).cast("double") / 1000.0)

        pairs = F.zip_with(
            v, F.sequence(F.lit(0), F.size(v) - 1), lambda x, i: comp(x, i)
        )
        return F.aggregate(pairs, F.lit(0.0), lambda acc, x: acc + x)

    bucket = F.lit(table * (1 << n_planes)).cast("bigint")
    for p in range(n_planes):
        plane = table * n_planes + p
        bucket = bucket + F.when(plane_dot(plane) > 0, F.lit(1 << p)).otherwise(
            F.lit(0)
        )
    return bucket


# The same per-table bucket list in DuckDB SQL: nested lambdas (table t ->
# plane p -> component (x, i)) over the portable LCG. DuckDB list lambdas
# index from 1, hence i-1.
_BUCKETS_SQL = f"""
      list_transform(range(0, {L_TABLES}), t -> t * {TABLE_SPAN} +
        CAST(list_sum(list_transform(range(0, {N_PLANES}), p ->
          CASE WHEN list_sum(list_transform(v, (x, i) ->
            x * ((((((t*{N_PLANES} + p)*1000 + (i-1)) * {LCG_A} + {LCG_C}) % {LCG_M})
                   * {LCG_A} + {LCG_C}) % {LCG_M} % 2001 - 1000) / 1000.0
          )) > 0 THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT))
"""


@query(
    "sim_topk_lsh",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), bucketed AS (
      SELECT vec_id, v, unnest({_BUCKETS_SQL}) AS bucket FROM vecs
    ), queries AS (
      SELECT vec_id AS query_id, v AS qv, bucket AS qbucket
      FROM bucketed WHERE vec_id < {N_QUERIES}
    ), probes AS (
      SELECT query_id, qv,
             unnest(list_prepend(qbucket,
               list_transform(range(0, {N_PLANES}),
                              p -> xor(qbucket, 1::BIGINT << p)))) AS probe
      FROM queries
    ), pair_scored AS (
      SELECT p.query_id, c.vec_id,
             list_dot_product(p.qv, c.v)
               / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(c.v, c.v)))
               AS cos
      FROM probes p JOIN bucketed c
        ON c.bucket = p.probe AND p.query_id <> c.vec_id
    ), scored AS (
      SELECT query_id, vec_id, MIN(cos) AS cos
      FROM pair_scored GROUP BY query_id, vec_id
    ), {_RANK_SQL}
    """,
)
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via classic L-table random-hyperplane LSH with
    MULTI-PROBE: L_TABLES independent tables of N_PLANES sign bits; every
    vector lands in exactly one bucket per table, and each query probes —
    per table — its own bucket plus the N_PLANES Hamming-1 buckets (where
    neighbors that straddle one hyperplane land). Candidate generation is
    an equality join on bucket id; a pair caught by several tables is
    collapsed by a cheap (query_id, vec_id) groupBy BEFORE ranking (the
    duplicate scores are identical — MIN is just the deterministic pick).
    This is the shape that scales to billions of vectors: one narrow
    shuffle on derived keys, candidate cost ~ L x bucket occupancy, and
    recall is dialed by (L, planes, probes) instead of data volume.
    Deterministic hyperplanes from the portable LCG make the whole
    pipeline — bucketing, probing, scoring, ranking — oracle-checkable
    end to end."""
    vecs = _fresh_vecs(spark, sf_dir)
    buckets = F.array(*[_lsh_bucket(F.col("v"), t) for t in range(L_TABLES)])
    # NOT cached: the query side re-reads this relation with vec_id <
    # N_QUERIES pushed down to the scan (a tiny broadcast subtree), so a
    # cache would materialize the full exploded relation per invocation
    # — and never release it — to save one trivially cheap re-scan (the
    # triangle-count r12 lesson applied at the scan level).
    bucketed = vecs.withColumn(
        "nv", F.sqrt(_dot(F.col("v"), F.col("v")))
    ).select("vec_id", "v", "nv", F.explode(buckets).alias("bucket"))
    probes = F.array(
        F.col("qbucket"),
        *[
            F.col("qbucket").bitwiseXOR(F.lit(1 << p)) for p in range(N_PLANES)
        ],
    )
    queries = (
        bucketed.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("bucket").alias("qbucket"),
            F.col("nv").alias("nq"),
        )
        .select(
            "query_id", "qv", "nq", F.explode(probes).alias("probe")
        )
    )
    pair_scored = (
        bucketed.join(
            F.broadcast(queries),
            (F.col("probe") == F.col("bucket"))
            & (F.col("query_id") != F.col("vec_id")),
        )
        .select(
            "query_id",
            "vec_id",
            (
                _dot(F.col("qv"), F.col("v")) / (F.col("nq") * F.col("nv"))
            ).alias("cos"),
        )
    )
    scored = pair_scored.groupBy("query_id", "vec_id").agg(
        F.min("cos").alias("cos")
    )
    return _rank_topk(scored)


def _medoid_seeds_sql() -> str:
    # cell number = POSITION in the seed_id-ordered list, not seed_id
    # arithmetic — matches the Spark side's ordered-collect index even if
    # the id range ever has gaps
    return (
        f"SELECT vec_id AS seed_id, v AS sv, "
        f"ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell FROM vecs "
        f"WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + K_CELLS}"
    )


@query(
    "sim_topk_ivf",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), seeds AS (
      {_medoid_seeds_sql()}
    ), dists AS (
      SELECT c.vec_id, c.v, s.cell,
             list_sum(list_transform(c.v, (x, i) ->
               (x - s.sv[i]) * (x - s.sv[i]))) AS d2,
             ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                ORDER BY list_sum(list_transform(c.v, (x, i) ->
                                  (x - s.sv[i]) * (x - s.sv[i]))),
                                         s.seed_id) AS nearness
      FROM vecs c CROSS JOIN seeds s
    ), assigned AS (
      SELECT vec_id, v, cell AS cell_id FROM dists WHERE nearness = 1
    ), probes AS (
      SELECT vec_id AS query_id, v AS qv, cell AS cell_id
      FROM dists WHERE vec_id < {N_QUERIES} AND nearness <= {N_PROBE_MEDOID}
    ), scored AS (
      SELECT p.query_id, c.vec_id,
             list_dot_product(p.qv, c.v)
               / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(c.v, c.v)))
               AS cos
      FROM probes p JOIN assigned c
        ON c.cell_id = p.cell_id AND p.query_id <> c.vec_id
    ), {_RANK_SQL}
    """,
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via an IVF (inverted-file) index: a coarse quantizer
    partitions the vector space into K_CELLS Voronoi cells; every candidate
    is assigned to its nearest centroid MAP-SIDE (the centroids ride along
    as a plan literal — no join, no shuffle for assignment), and each query
    probes only its N_PROBE nearest cells. Candidate generation is then an
    equi-join on cell_id — the IVF-flat shape that scales to billions of
    vectors (assignment stays embarrassingly parallel, probe cost is
    N_PROBE/K-th of brute force).

    The registered quantizer uses DETERMINISTIC MEDOID seeds — the
    embeddings of K_CELLS fixed vec_ids — so both engines derive identical
    cells and the full pipeline is oracle-checked. Production would train
    k-means on a sample instead (same everything downstream):
    `sim_topk_ivf_kmeans` below, recall-verified in pytest."""
    vecs = _fresh_vecs(spark, sf_dir)
    seeds = (
        vecs.where(
            (F.col("vec_id") >= N_QUERIES)
            & (F.col("vec_id") < N_QUERIES + K_CELLS)
        )
        .orderBy("vec_id")
        .collect()
    )
    centroids = [list(r.v) for r in seeds]
    return _ivf_flat(vecs, centroids, N_PROBE_MEDOID)


def sim_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF quantizer: seeded KMeans trained on the corpus
    (on a sample at real scale), then the identical map-side-assignment /
    cell-probe / equi-join pipeline. Float k-means iteration order is
    engine-specific, so the raw top-k has no cross-engine oracle; the
    registered `sim_topk_ivf_kmeans` key below grades it through a
    RECALL CONTRACT against exact brute force instead, and recall is
    additionally asserted in tests/test_llm_ops.py."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = _fresh_vecs(spark, sf_dir)
    # Train the quantizer on a bounded DETERMINISTIC sample, exactly as
    # production IVF does (FAISS trains coarse quantizers on ~39*K
    # vectors; centroid quality saturates long before the corpus ends) —
    # k-means cost is O(sample * K * iters) and must not grow with the
    # lake. xxhash64 ranking makes the sample seed-stable across runs
    # and partitionings. The quantizer is ml.KMeans (kmeans|| init):
    # single-restart driver-side Lloyd's variants (LCG-strided, maxmin,
    # deterministic kmeans++, best-of-5-by-inertia) were all measured
    # 6-20 recall points WORSE on this corpus — kmeans||'s oversampled
    # init wins, and its ~2 s of job overhead only shows in the
    # extras-only bench entry, not the graded headline.
    sample_n = 64 * K_CELLS
    # train off the UNSPREAD scan (r21): the total sort makes the
    # sample identical regardless of partitioning, and the fit persists
    # its input once — the spread's exchange is pure overhead here
    train = (
        _fresh_vecs(spark, sf_dir, spread=False)
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(sample_n)
        .select(array_to_vector("v").alias("features"))
    )
    # r22 (guide §1.2 step 1 — the fit's cost is per-job scheduling over
    # a 1024-row sample, ~20 tiny jobs): initSteps=1 keeps kmeans||'s
    # oversampled init but runs ONE init round instead of two — measured
    # ~0.25 s/fit cheaper, and recall against exact brute force is
    # 0.78/0.64/0.90 at sf0.001/0.01/0.1 (vs 0.72/0.68/0.72 with the
    # 2-step default; floor 0.5) — re-validated at all three SFs.
    model = KMeans(k=K_CELLS, seed=42, maxIter=10, initSteps=1).fit(train)
    centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    return _ivf_flat(vecs, centroids, N_PROBE)


# Micro-average recall floor for the trained-quantizer contract: probing
# N_PROBE=4 of K_CELLS=16 geometry-aware cells must recover at least half
# the exact top-k pairs (observed 0.64–0.72 across sf0.001–sf0.1; the
# same bound tests/test_llm_ops.py asserts). Compared in INTEGERS
# (2*hits >= exact pairs) so the boolean can't flip on a float boundary.
KMEANS_RECALL_NUM = 1
KMEANS_RECALL_DEN = 2


@query(
    "sim_topk_ivf_kmeans",
    oracle=f"""
    SELECT COUNT(*) AS n_queries, COUNT(*) AS n_answered, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
)
def sim_topk_ivf_kmeans_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grades the TRAINED-KMEANS IVF path (the production ANN quantizer)
    via an engine-portable contract, the `agg_sketch_hll` pattern: the
    learned float centroids aren't reproducible in another engine, but
    the CLAIM about them is — every query must be answered, and the
    micro-average recall of the approximate top-k against exact
    brute-force top-k must meet the published floor (hits*2 >= exact
    pairs, integer-exact). The oracle emits the same deterministic row
    (query count twice + TRUE), so a hash match requires the trained
    quantizer to actually honor the recall bound on this round's data.
    The exact pass exists only to make the estimate verifiable — at
    100 TB you'd grade recall on a sampled query set exactly this way
    (recall@k against brute force over the sample) while production
    queries run the IVF path alone."""
    exact = sim_topk_cosine(spark, sf_dir).select("query_id", "vec_id")
    approx = sim_topk_ivf_kmeans(spark, sf_dir).select("query_id", "vec_id")
    hits = (
        exact.join(approx, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        )
    )
    stats = per_q.agg(
        F.count("*").cast("bigint").alias("n_queries"),
        (
            F.sum("n_hits") * KMEANS_RECALL_DEN
            >= F.sum("n_exact") * KMEANS_RECALL_NUM
        ).alias("recall_ok"),
    )
    answered = approx.agg(
        F.countDistinct("query_id").cast("bigint").alias("n_answered")
    )
    # 1-row x 1-row broadcast combine, same shape as agg_sketch_hll's
    return stats.crossJoin(answered).select(
        "n_queries", "n_answered", "recall_ok"
    )


def _ivf_flat(
    vecs: DataFrame,
    centroid_values: list[list[float]],
    n_probe: int,
) -> DataFrame:
    """IVF-flat core shared by both quantizers: K_CELLS x dim centroid
    literals on the CANDIDATE side (tiny — keeps cell assignment inside
    whole-stage codegen instead of behind a join), argmin assignment
    with first-min (lowest cell id) tiebreak; the QUERY side — a fixed
    N_QUERIES-row batch, driver-resident by design, exactly like the
    centroids themselves — has its probe cells computed in plain Python
    and ships as a literal broadcast relation (query_id, qv, nq,
    probe_cell). Candidate generation is the equi-join probe_cell ==
    cell_id, then exact rerank of the probed candidates.

    The join is on plain `query_id`, never on the cell expression. The
    obvious alternative — alias the argmin-assignment expression as
    `cell_id` and equi-join probe cells against it — is a landmine in
    current Spark: constraint inference expands the alias back to the
    higher-order-function expression (it even survives localCheckpoint
    via LogicalRDD's originConstraints), miscomputes that expression's
    references (the HOF lambda variables), and pushes an invalid filter
    referencing `v` onto the probe side of the join — failing at runtime
    with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND depending on exprId
    numbering. Inverting the probe pairs into a literal cell→queries
    MAP looked up inside the explode keeps the assignment expression out
    of every join constraint: Generate produces no equality constraints,
    so nothing cross-side ever references the HOF tree.

    Float parity with the DuckDB oracle holds because Python, Spark and
    DuckDB all evaluate the same left-to-right IEEE-double sums
    (squared-L2 over dims; sqrt of the self-dot)."""
    import math
    from collections import defaultdict

    spark = vecs.sparkSession
    centroids = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in center])
            for center in centroid_values
        ]
    )
    l2 = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = F.transform(centroids, lambda c: l2(F.col("v"), c))
    cell_expr = F.array_position(dists, F.array_min(dists)) - 1
    # bounded designed collect: the N_QUERIES query vectors (same class
    # of artifact as the medoid seeds / IVF centroids themselves);
    # probe-cell selection for a driver-resident query batch is plain
    # Python over the driver-held centroid table — the production shape.
    q_rows = (
        vecs.where(F.col("vec_id") < N_QUERIES).orderBy("vec_id").collect()
    )
    q_lit = []
    cell_qs: dict[int, list[int]] = defaultdict(list)
    for r in q_rows:
        qv = [float(x) for x in r.v]
        nq = 0.0
        for x in qv:
            nq += x * x
        nq = math.sqrt(nq)
        q_lit.append((int(r.vec_id), qv, nq))
        cell_d2 = []
        for cell, center in enumerate(centroid_values):
            d2 = 0.0
            for x, c in zip(qv, center):
                d2 += (x - c) * (x - c)
            cell_d2.append((d2, cell))
        for _, cell in sorted(cell_d2)[:n_probe]:
            cell_qs[cell].append(int(r.vec_id))
    # literal cell -> [query ids probing it]; candidates in unprobed
    # cells explode to zero rows and die map-side, before any join
    probe_map = F.create_map(
        *[
            x
            for cell in sorted(cell_qs)
            for x in (
                F.lit(cell).cast("bigint"),
                F.array(*[F.lit(q).cast("bigint") for q in cell_qs[cell]]),
            )
        ]
    )
    probed = vecs.select(
        "vec_id",
        "v",
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nv"),
        F.explode(F.element_at(probe_map, cell_expr)).alias("query_id"),
    )
    queries = spark.createDataFrame(
        q_lit, "query_id bigint, qv array<double>, nq double"
    )
    scored = (
        probed.join(F.broadcast(queries), "query_id")
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            (
                _dot(F.col("qv"), F.col("v")) / (F.col("nq") * F.col("nv"))
            ).alias("cos"),
        )
    )
    return _rank_topk(scored)


# Reconstruction-error ceiling for symmetric per-vector int8
# quantization: |x - q*scale| <= scale/2 = max|x|/254, so the
# relative-to-max error is <= 1/254 ~ 40 bp; 60 bp leaves margin over
# float-division noise without weakening the claim.
QUANT_ERR_BP = 60


@query(
    "embedding_quantize_int8",
    oracle=f"""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS n_dims,
           TRUE AS within_bound
    FROM embeddings
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 vector quantization — the storage/IO lever for a 100 TB
    embedding lake (4x smaller than float32, 8x smaller than float64;
    ANN candidate scans read int8 and only the rerank touches floats).
    Symmetric per-vector scheme: scale = max|x| / 127, q = round(x /
    scale) in [-127, 127], dequant = q * scale. The graded output is
    the engine-portable CONTRACT (the `agg_sketch_hll` pattern): for
    every vector, the worst per-dimension reconstruction error must
    stay within 60 bp (QUANT_ERR_BP) of the vector's max magnitude — the
    analytic ceiling is ~40 bp (half a quantization step), so a hash
    match requires the quantize/dequantize round-trip to actually hold
    on every dimension of every vector.

    Scale shape: entirely map-side higher-order functions (transform /
    aggregate), no shuffle, no UDF; the quantized representation this
    validates is what you'd persist.

    r21 (guide §1.2 step 2): `scale`/`absmax` are HOISTED into their own
    projection before the per-element lambdas reference them. Inlined
    (the pre-r21 form), every per-ELEMENT lambda evaluation re-ran the
    whole O(dim) absmax aggregate — O(dim^2) interpreted work per row,
    measured as this key's whole cost. As column attributes they
    compute once per row; the arithmetic per element is unchanged, so
    values are float-identical."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("v")
    )
    absmax_expr = F.aggregate(
        F.col("v"), F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))
    )
    e = e.withColumn("absmax", absmax_expr).withColumn(
        "scale",
        F.when(F.col("absmax") > 0, F.col("absmax") / 127.0).otherwise(
            F.lit(1.0)
        ),
    )
    scale = F.col("scale")
    q = F.transform(
        F.col("v"),
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.round(x / scale).cast("int")),
        ),
    )
    max_err = F.aggregate(
        F.zip_with(
            F.col("v"),
            q,
            lambda x, qi: F.abs(x - qi.cast("double") * scale),
        ),
        F.lit(0.0),
        lambda a, x: F.greatest(a, x),
    )
    return e.select(
        "vec_id",
        F.size("v").cast("bigint").alias("n_dims"),
        (max_err * 10000 <= F.col("absmax") * QUANT_ERR_BP).alias(
            "within_bound"
        ),
    )


# --- multi-vector late interaction (MaxSim) ---------------------------------

MAXSIM_SCALE = 10000  # per-term basis points; summed exactly as BIGINT

_MAXSIM_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS x
  FROM embeddings
), n AS (
  SELECT vec_id, label, x, sqrt(list_dot_product(x, x)) AS nx FROM v
), term AS (
  SELECT q.label AS q_label, d.label AS d_label, q.vec_id,
         CAST(ROUND(MAX(list_dot_product(q.x, d.x) / (q.nx * d.nx))
                    * {MAXSIM_SCALE}, 0) AS BIGINT) AS t
  FROM n q JOIN n d ON q.label % 2 = 0 AND d.label % 2 = 1
  GROUP BY 1, 2, q.vec_id
)
SELECT q_label, d_label,
       CAST(SUM(t) AS BIGINT) AS maxsim_bp,
       CAST(COUNT(*) AS BIGINT) AS n_terms
FROM term GROUP BY q_label, d_label
"""


@query("sim_maxsim_multivector", oracle=_MAXSIM_ORACLE)
def sim_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-VECTOR late-interaction scoring (the ColBERT MaxSim family):
    each label plays a multi-vector document (its member embeddings are
    the token vectors); even labels form the QUERY workload, odd labels
    the candidate CORPUS, and pair relevance = sum over query vectors
    of the MAX cosine against any document vector. This is the scoring
    shape of modern late-interaction retrievers, which single-vector
    top-k (`sim_topk_*`) cannot express. Per-term maxes are scaled to
    integer basis points BEFORE summing, so the reduce is an exact
    BIGINT sum — no float reduction-order hazard across engines.

    Scale shape: the label-pair relation is built DRIVER-SIDE from the
    collected distinct labels (bounded metadata, the same pattern as
    the IVF centroid seeds) and broadcast, so vector pairing is a chain
    of equi-joins — no inequality/nested-loop join anywhere. At 100 TB
    the pair relation comes from a candidate generator (the ANN paths
    here) instead of all label pairs; the MaxSim verify stage is
    unchanged."""
    # the MaxSim scoring is CPU-bound per vector pair (io.cpu_spread)
    vecs = cpu_spread(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", "label", _dvec("embedding").alias("x")
        ),
        "vec_id",
    )
    norms = _with_norm(vecs)
    labels = sorted(
        r.label for r in vecs.select("label").distinct().collect()
    )
    # query side = even labels, corpus side = odd labels (the retrieval
    # split: a bounded query workload scored against candidate docs)
    pairs = vecs.sparkSession.createDataFrame(
        [
            (a, b)
            for a in labels
            if a % 2 == 0
            for b in labels
            if b % 2 == 1
        ],
        "q_label long, d_label long",
    )
    return _maxsim_scores(norms, pairs)


def _with_norm(vecs: DataFrame) -> DataFrame:
    """Append the L2 norm of `x` as `nx` (one map-side HOF per row)."""
    return vecs.withColumn(
        "nx",
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("x"), F.col("x"), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, y: acc + y,
            )
        ),
    )


def _maxsim_scores(norms: DataFrame, pairs: DataFrame) -> DataFrame:
    """MaxSim scoring core shared by the exact (all label pairs) and ANN
    (candidate label pairs) paths: for each (q_label, d_label) in
    `pairs`, sum over the query label's vectors of the MAX cosine
    against any doc-label vector, per-term-rounded to integer basis
    points so the reduce is an exact BIGINT sum. `pairs` is bounded
    (candidate metadata), so it broadcasts and pairing stays a chain of
    equi-joins."""
    pairs = F.broadcast(pairs)
    q = norms.select(
        F.col("label").alias("q_label"),
        F.col("vec_id").alias("q_vec"),
        F.col("x").alias("qx"),
        F.col("nx").alias("qn"),
    )
    d = norms.select(
        F.col("label").alias("d_label"),
        F.col("x").alias("dx"),
        F.col("nx").alias("dn"),
    )
    cos = (
        F.aggregate(
            F.zip_with(F.col("qx"), F.col("dx"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, y: acc + y,
        )
        / (F.col("qn") * F.col("dn"))
    )
    term = (
        q.join(pairs, "q_label")
        .join(d, "d_label")
        .groupBy("q_label", "d_label", "q_vec")
        .agg(
            F.round(F.max(cos) * MAXSIM_SCALE, 0)
            .cast("bigint")
            .alias("t")
        )
    )
    return term.groupBy("q_label", "d_label").agg(
        F.sum("t").cast("bigint").alias("maxsim_bp"),
        F.count("*").cast("bigint").alias("n_terms"),
    )


# --- MaxSim with ANN candidate generation (the 100 TB path) -----------------

# Candidate budget per query label: the exact rerank touches at most
# TOP_C doc labels per query, so scoring cost is queries x TOP_C x
# per-pair work — linear in the query workload REGARDLESS of corpus
# size. (At the graded fixture scale TOP_C exceeds the doc-label count,
# so pruning is a no-op there and recall is naturally ~1; the cap is
# the structural guarantee that matters at scale.)
MAXSIM_TOP_C = 8
# Micro recall@1 floor for the contract: the exact top-1 doc label must
# be among the ANN-scored candidates for at least half the queries.
# Integer-exact compare (2*hits >= queries), the kmeans-contract shape.
MAXSIM_RECALL_NUM = 1
MAXSIM_RECALL_DEN = 2


def maxsim_ann_scores(
    vecs: DataFrame,
    is_query: Column,
    top_c: int = MAXSIM_TOP_C,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """The operational MaxSim path at scale (the PLAID / ColBERTv2
    retrieve-then-rerank shape): candidate label pairs come from
    TOKEN-LEVEL LSH — every member vector is bucketed by the existing
    L-table hyperplane LSH, candidate (q_label, d_label) pairs are the
    label projections of bucket-colliding vector pairs ranked by
    collision count, capped at `top_c` doc labels per query label —
    and exact MaxSim scoring runs ONLY on those candidates via the
    shared `_maxsim_scores` core.

    This replaces `sim_maxsim_multivector`'s all-label-pairs relation
    (quadratic in label count by design, fine for a graded fixture,
    fatal at 100 TB) with the banded-equi-join shape every other
    candidate generator here uses: one narrow shuffle on bucket ids,
    collision counting as a partial-agg groupBy, a bounded top-C window
    over label pairs, then a broadcast of the capped candidate set into
    the rerank. Cost knobs: `n_planes` grows with the corpus so bucket
    occupancy (collision-join fan-out) stays bounded — the FAISS
    nlist-grows-with-N practice, exercised by the dedicated scale-law
    test — and `top_c` bounds the rerank independently of how many
    labels exist.

    `vecs`: (vec_id, label, x array<double>); `is_query` splits labels
    into query side (true) and corpus side (false)."""
    tagged = _with_norm(vecs).withColumn("is_q", is_query)
    buckets = F.array(
        *[_lsh_bucket(F.col("x"), t, n_planes) for t in range(L_TABLES)]
    )
    bucketed = tagged.select(
        "label", "is_q", F.explode(buckets).alias("bucket")
    )
    qb = bucketed.where(F.col("is_q")).select(
        F.col("label").alias("q_label"), "bucket"
    )
    db = bucketed.where(~F.col("is_q")).select(
        F.col("label").alias("d_label"), "bucket"
    )
    # collision counting: equi-join on bucket id, partial-agg groupBy —
    # the only shuffle whose width depends on the corpus, bounded by
    # occupancy (dialed via n_planes)
    coll = (
        qb.join(db, "bucket")
        .groupBy("q_label", "d_label")
        .agg(F.count("*").alias("n_coll"))
    )
    w = Window.partitionBy("q_label").orderBy(
        F.col("n_coll").desc(), F.col("d_label")
    )
    cand = (
        coll.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= top_c)
        .select("q_label", "d_label")
    )
    return _maxsim_scores(tagged, cand)


@query(
    "sim_maxsim_ann",
    oracle=f"""
    SELECT CAST(COUNT(DISTINCT CASE WHEN label % 2 = 0 THEN label END)
                AS BIGINT) AS n_queries,
           CAST(COUNT(DISTINCT CASE WHEN label % 2 = 0 THEN label END)
                AS BIGINT) AS n_answered,
           TRUE AS recall_ok
    FROM embeddings
    """,
)
def sim_maxsim_ann_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grades the ANN MaxSim path (`maxsim_ann_scores`) via an
    engine-portable contract, the `sim_topk_ivf_kmeans` pattern: the
    LSH collision ranking isn't re-derivable in a one-shot oracle, but
    the CLAIM about it is — every query label must be answered, and for
    at least 1/2 (MAXSIM_RECALL_NUM/MAXSIM_RECALL_DEN) of query labels
    the EXACT top-1 doc label (from the all-pairs form, which shares
    the scoring core, so scores for common pairs are bit-identical)
    must be among the ANN-scored candidates (integer-exact compare).
    The oracle emits the same deterministic row (query-label count
    twice + TRUE), so a hash match requires the candidate generator to
    actually honor the recall bound on this round's data. The exact
    pass exists only to make the claim verifiable — at 100 TB you'd
    grade recall on a sampled query workload exactly this way while
    production queries run the ANN path alone."""
    vecs = cpu_spread(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", "label", _dvec("embedding").alias("x")
        ),
        "vec_id",
    )
    ann = maxsim_ann_scores(vecs, F.col("label") % 2 == 0)
    exact = sim_maxsim_multivector(spark, sf_dir)
    w = Window.partitionBy("q_label").orderBy(
        F.col("maxsim_bp").desc(), F.col("d_label")
    )
    exact_top1 = (
        exact.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("q_label", "d_label")
    )
    ann_pairs = ann.select("q_label", "d_label")
    hits = exact_top1.join(ann_pairs, ["q_label", "d_label"]).agg(
        F.count("*").alias("n_hit")
    )
    nq = exact.agg(
        F.countDistinct("q_label").cast("bigint").alias("n_queries")
    )
    na = ann.agg(
        F.countDistinct("q_label").cast("bigint").alias("n_answered")
    )
    # 1-row x 1-row broadcast combines, same shape as the hll contract
    return (
        nq.crossJoin(na)
        .crossJoin(hits)
        .select(
            "n_queries",
            "n_answered",
            (
                F.col("n_hit") * MAXSIM_RECALL_DEN
                >= F.col("n_queries") * MAXSIM_RECALL_NUM
            ).alias("recall_ok"),
        )
    )


# --- contrastive negative sampling ------------------------------------------

NEG_PER_ANCHOR = 3  # candidate draws per anchor (pre-filter)
NEG_LCG_A = 1103515245
NEG_LCG_C = 12345

_NEG_ORACLE = f"""
WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
cand AS (
  SELECT e.vec_id AS anchor_id, e.label AS anchor_label,
         CAST((e.vec_id * {NEG_LCG_A} + j * {NEG_LCG_C})
              % (SELECT n FROM n) AS BIGINT) AS neg_id,
         j AS draw
  FROM embeddings e
  CROSS JOIN (SELECT unnest([1, 2, 3]) AS j)
)
SELECT c.anchor_id, c.neg_id, c.draw,
       c.anchor_label, g.label AS neg_label
FROM cand c JOIN embeddings g ON g.vec_id = c.neg_id
WHERE g.label <> c.anchor_label AND c.neg_id <> c.anchor_id
"""


@query("sample_negative_pairs", oracle=_NEG_ORACLE)
def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTRASTIVE NEGATIVE MINING: every anchor draws 3 (NEG_PER_ANCHOR)
    pseudo-random candidates via a portable LCG over the id space, and
    candidates sharing the anchor's label (or the anchor itself) are
    rejected — the negative-pair generator behind contrastive /
    triplet-loss training data (SimCLR/CLIP-style), bit-reproducible
    across engines and runs because the draw is pure id arithmetic,
    never engine RNG.

    Scale shape: candidate generation is MAP-SIDE arithmetic (a small
    literal explode per anchor — no shuffle to draw); the label lookup
    is one equi-join on the candidate id. Rejection sampling emits a
    variable count per anchor; production tops up with more draws —
    the over-draw factor is a constant, so cost stays linear in
    anchors. The corpus row count rides in as bounded driver-side
    metadata (the IVF-seed pattern)."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    n = e.count()
    draws = e.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.explode(F.array(*[F.lit(j) for j in range(1, NEG_PER_ANCHOR + 1)])).alias(
            "draw"
        ),
    ).select(
        "anchor_id",
        "anchor_label",
        "draw",
        (
            (F.col("anchor_id") * NEG_LCG_A + F.col("draw") * NEG_LCG_C) % n
        )
        .cast("bigint")
        .alias("neg_id"),
    )
    g = e.select(
        F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label")
    )
    return (
        draws.join(g, "neg_id")
        .where(
            (F.col("neg_label") != F.col("anchor_label"))
            & (F.col("neg_id") != F.col("anchor_id"))
        )
        .select("anchor_id", "neg_id", "draw", "anchor_label", "neg_label")
    )
