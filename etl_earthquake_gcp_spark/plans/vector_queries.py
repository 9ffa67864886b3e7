"""Similarity-search queries over the ``embeddings`` table.

SURVEY.md §7 tier 4(b): brute-force cosine top-k as the exact baseline
(oracle-checked against DuckDB double-precision math), plus an LSH-bucketed
approximate variant as the 100 TB scale path (rows-only check — hash families
aren't bit-identical across engines).

All vector math stays JVM-side: ``zip_with`` + ``aggregate`` higher-order
functions, no Python UDFs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import cast_double_with_norm
from ..sources.tables import load_table
from .registry import register

_N_QUERIES = 5  # vec_id < 5 are the query vectors
_TOP_K = 3


def _with_norm(df: DataFrame) -> DataFrame:
    """Cast embedding float[] → double[] and attach its L2 norm (the
    one canonical fold — functions/vectors.py)."""
    return cast_double_with_norm(df)


_NEAR_DUP_THRESHOLD = 0.35  # corpus is near-random; 0.35 keeps ~0.2% of pairs


@register(
    "embedding_cosine_near_dup",
    oracle=f"""
        WITH exploded AS (
            SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings
        ), norms AS (
            SELECT vec_id, sqrt(sum(x * x)) AS norm FROM exploded GROUP BY vec_id
        ), dots AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.x * b.x) AS dot
            FROM exploded a
            JOIN exploded b ON a.i = b.i AND a.vec_id < b.vec_id
            GROUP BY 1, 2
        )
        SELECT vec_a, vec_b,
               round(d.dot / (na.norm * nb.norm), 4) AS cosine
        FROM dots d
        JOIN norms na ON d.vec_a = na.vec_id
        JOIN norms nb ON d.vec_b = nb.vec_id
        WHERE d.dot / (na.norm * nb.norm) >= {_NEAR_DUP_THRESHOLD}
    """,
    doc="embedding-cosine near-duplicate pairs (dedup family, exact "
    f"baseline): all pairs with cosine >= {_NEAR_DUP_THRESHOLD}. O(n²) by "
    "construction — the certified reference output; the sub-quadratic scale "
    "path over the same semantics is ann_lsh_bucketed (LSH prefilter, exact "
    "verify), mirroring the jaccard↔minhash pairing on text.",
)
def embedding_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    a, b = emb.alias("a"), emb.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.vec"), F.col("b.vec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim = dot / (F.col("a.norm") * F.col("b.norm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("cos_raw"),
        )
        .filter(F.col("cos_raw") >= _NEAR_DUP_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cos_raw", 4).alias("cosine"))
    )


_SEMDEDUP_SIGN_BITS = 8  # 2^8 = 256 buckets from the first 8 component signs


@register(
    "semantic_dedup_signbucket",
    oracle=f"""
        WITH bucketed AS (
            SELECT vec_id,
                   {" + ".join(
                       f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} "
                       "ELSE 0 END)"
                       for i in range(_SEMDEDUP_SIGN_BITS)
                   )} AS bucket
            FROM embeddings
        ), exploded AS (
            SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings
        ), norms AS (
            SELECT vec_id, sqrt(sum(x * x)) AS norm FROM exploded GROUP BY vec_id
        ), cand AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bucketed a
            JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        ), dots AS (
            SELECT c.vec_a, c.vec_b, sum(ea.x * eb.x) AS dot
            FROM cand c
            JOIN exploded ea ON ea.vec_id = c.vec_a
            JOIN exploded eb ON eb.vec_id = c.vec_b AND ea.i = eb.i
            GROUP BY 1, 2
        )
        SELECT vec_a, vec_b,
               round(d.dot / (na.norm * nb.norm), 4) AS cosine
        FROM dots d
        JOIN norms na ON d.vec_a = na.vec_id
        JOIN norms nb ON d.vec_b = nb.vec_id
        WHERE d.dot / (na.norm * nb.norm) >= {_NEAR_DUP_THRESHOLD}
    """,
    doc="SemDeDup-shaped semantic dedup (Abbas et al. 2023: bucket the "
    "embedding space, dedup within buckets only): vectors are partitioned "
    f"into 2^{_SEMDEDUP_SIGN_BITS} buckets by the SIGNS of their first "
    f"{_SEMDEDUP_SIGN_BITS} components — a degenerate but fully "
    "deterministic random-hyperplane LSH (axis-aligned planes), so the "
    "oracle replays bucketing bit-for-bit — then exact cosine verifies "
    "only same-bucket pairs. The equi-join on bucket replaces "
    "embedding_cosine_near_dup's O(n^2) theta-join: expected candidate "
    "volume falls by ~2^bits for non-dup pairs while high-cosine pairs "
    "mostly agree on signs (cos 0.99 -> ~78% same-bucket at 8 bits; "
    "production raises recall by unioning a few sign-bit rotations, same "
    "plan shape). At 100 TB the bucket id is the shuffle key — no "
    "all-pairs stage exists anywhere in the plan.",
)
def semantic_dedup_signbucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    bucket = None
    for i in range(_SEMDEDUP_SIGN_BITS):
        bit = F.when(F.element_at("vec", i + 1) >= 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        bucket = bit if bucket is None else bucket + bit
    emb = emb.withColumn("bucket", bucket)
    a, b = emb.alias("a"), emb.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.vec"), F.col("b.vec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim = dot / (F.col("a.norm") * F.col("b.norm"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("cos_raw"),
        )
        .filter(F.col("cos_raw") >= _NEAR_DUP_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cos_raw", 4).alias("cosine"))
    )


@register(
    "cosine_topk_pandas",
    # identical semantics to cosine_topk_bruteforce → same oracle
    oracle=f"""
        WITH exploded AS (
            SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings
        ), norms AS (
            SELECT vec_id, sqrt(sum(x * x)) AS norm FROM exploded GROUP BY vec_id
        ), dots AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   sum(a.x * b.x) AS dot
            FROM exploded a
            JOIN exploded b ON a.i = b.i
            WHERE a.vec_id < {_N_QUERIES} AND b.vec_id <> a.vec_id
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id,
               round(d.dot / (na.norm * nb.norm), 4) AS cosine
        FROM dots d
        JOIN norms na ON d.query_id = na.vec_id
        JOIN norms nb ON d.neighbor_id = nb.vec_id
        QUALIFY row_number() OVER (
            PARTITION BY query_id
            ORDER BY round(d.dot / (na.norm * nb.norm), 6) DESC, neighbor_id
        ) <= {_TOP_K}
    """,
    doc="cosine top-k via Arrow-vectorized numpy matmul (mapInPandas): the "
    "query matrix (tiny) is closure-broadcast to every batch; the corpus "
    "streams through Python once, one BLAS sgemm per Arrow batch, no "
    "shuffle until the final per-query top-k. Same oracle as the JVM "
    "zip_with variant — the differential check certifies the Arrow path; "
    "bench.py races the two implementations.",
    bench=True,
)
def cosine_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    # COLLECT: the _N_QUERIES-row query-vector set (dimension-sized by
    # contract — retrieval queries, not corpus rows)
    qrows = sorted(
        emb.filter(F.col("vec_id") < _N_QUERIES).collect(),
        key=lambda r: r.vec_id,
    )
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qmat = np.array([r.vec for r in qrows], dtype=np.float64)
    qnorm = np.array([r.norm for r in qrows], dtype=np.float64)

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cmat = np.array(pdf["vec"].tolist(), dtype=np.float64)
            # (batch × dim) @ (dim × queries) → every dot in one BLAS call
            dots = cmat @ qmat.T
            cos = dots / np.outer(pdf["norm"].to_numpy(), qnorm)
            n, q = cos.shape
            yield pd.DataFrame(
                {
                    "query_id": np.tile(qids, n),
                    "neighbor_id": np.repeat(pdf["vec_id"].to_numpy(), q),
                    "cos_raw": cos.ravel(),
                }
            )

    scored = emb.mapInPandas(
        score_batches, schema="query_id long, neighbor_id long, cos_raw double"
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cos_raw"), 6).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "neighbor_id", F.round("cos_raw", 4).alias("cosine"))
    )


@register(
    "cosine_topk_arrow",
    # identical semantics to cosine_topk_bruteforce/_pandas → same oracle
    oracle=f"""
        WITH exploded AS (
            SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings
        ), norms AS (
            SELECT vec_id, sqrt(sum(x * x)) AS norm FROM exploded GROUP BY vec_id
        ), dots AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   sum(a.x * b.x) AS dot
            FROM exploded a
            JOIN exploded b ON a.i = b.i
            WHERE a.vec_id < {_N_QUERIES} AND b.vec_id <> a.vec_id
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id,
               round(d.dot / (na.norm * nb.norm), 4) AS cosine
        FROM dots d
        JOIN norms na ON d.query_id = na.vec_id
        JOIN norms nb ON d.neighbor_id = nb.vec_id
        QUALIFY row_number() OVER (
            PARTITION BY query_id
            ORDER BY round(d.dot / (na.norm * nb.norm), 6) DESC, neighbor_id
        ) <= {_TOP_K}
    """,
    doc="cosine top-k via mapInArrow — the third Python-boundary API "
    "surface beside mapInPandas (cosine_topk_pandas) and the JVM zip_with "
    "path (cosine_topk_bruteforce): raw pyarrow RecordBatches in/out, no "
    "pandas materialization. The fixed-width list column flattens to a "
    "numpy view of the Arrow buffer (no per-row boxing), one BLAS gemm "
    "per batch, RecordBatch construction straight from numpy. Shares the "
    "brute-force oracle — the differential check certifies the Arrow-"
    "native path bit-for-bit against both siblings.",
)
def cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pyarrow as pa

    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    # COLLECT: the _N_QUERIES-row query-vector set (dimension-sized by
    # contract — retrieval queries, not corpus rows)
    qrows = sorted(
        emb.filter(F.col("vec_id") < _N_QUERIES).collect(),
        key=lambda r: r.vec_id,
    )
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qmat = np.array([r.vec for r in qrows], dtype=np.float64)
    qnorm = np.array([r.norm for r in qrows], dtype=np.float64)
    nq = len(qids)

    def score(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            # flatten() honors list offsets/slicing; every vec is dim-long,
            # so the child buffer reshapes to (n, dim) with zero copying
            flat = np.asarray(rb.column("vec").flatten())
            cmat = flat.reshape(n, -1)
            norms = np.asarray(rb.column("norm"))
            ids = np.asarray(rb.column("vec_id"))
            cos = (cmat @ qmat.T) / np.outer(norms, qnorm)
            yield pa.record_batch(
                [
                    pa.array(np.tile(qids, n), pa.int64()),
                    pa.array(np.repeat(ids, nq), pa.int64()),
                    pa.array(cos.ravel(), pa.float64()),
                ],
                names=["query_id", "neighbor_id", "cos_raw"],
            )

    scored = emb.mapInArrow(
        score, schema="query_id long, neighbor_id long, cos_raw double"
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cos_raw"), 6).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "neighbor_id", F.round("cos_raw", 4).alias("cosine"))
    )


_IVF_CELLS = 16
_IVF_NPROBE = 4


@register(
    "ann_ivf_topk",
    oracle=None,  # cluster assignment is trainer-specific → rows-only check
    doc=f"IVF (inverted-file) ANN: MLlib KMeans (k={_IVF_CELLS}, seed 42) "
    "coarse-quantizes unit vectors into cells; each query probes its "
    f"{_IVF_NPROBE} nearest cells and reranks exactly inside them. At scale "
    "the corpus is partitioned/bucketed BY cell id, so a query touches "
    f"{_IVF_NPROBE}/{_IVF_CELLS} of the data — complementary to "
    "ann_lsh_bucketed (hash buckets vs learned cells). Recall vs brute "
    "force asserted in tests/test_ann_ivf.py.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    unit = emb.select(
        "vec_id",
        "vec",
        "norm",
        array_to_vector(
            F.transform("vec", lambda x: x / F.col("norm"))
        ).alias("features"),
    )
    km = KMeans(k=_IVF_CELLS, seed=42, maxIter=10).fit(unit.select("features"))
    assigned = km.transform(unit).select(
        "vec_id", "vec", "norm", F.col("prediction").alias("cell")
    )

    centroids = np.vstack(km.clusterCenters())
    # COLLECT: the _N_QUERIES-row query-vector set (dimension-sized)
    qrows = sorted(
        assigned.filter(F.col("vec_id") < _N_QUERIES).collect(),
        key=lambda r: r.vec_id,
    )
    # query→probe-cell fan-out computed driver-side (queries × cells is tiny)
    probe_rows = []
    for r in qrows:
        q = np.array(r.vec) / r.norm
        order = np.argsort(((centroids - q) ** 2).sum(axis=1))
        probe_rows.extend(
            (int(r.vec_id), list(r.vec), float(r.norm), int(c))
            for c in order[:_IVF_NPROBE]
        )
    probes = spark.createDataFrame(
        probe_rows, "query_id long, qvec array<double>, qnorm double, cell int"
    )

    dot = F.aggregate(
        F.zip_with(F.col("vec"), F.col("qvec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim = dot / (F.col("norm") * F.col("qnorm"))
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cos_raw"), 6).desc(), F.col("neighbor_id")
    )
    return (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("cos_raw")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "neighbor_id", F.round("cos_raw", 4).alias("cosine"))
    )


_LSH_TABLES = 6  # OR-amplification: a pair collides if ANY table buckets it
_LSH_PLANES = 20  # AND within a table: 20 sign bits → 2^20 buckets/table
_LSH_SIM_THRESHOLD = 0.25  # exact-verify floor on the collided candidates


def lsh_near_pairs(
    emb: DataFrame,
    n_tables: int = _LSH_TABLES,
    n_planes: int = _LSH_PLANES,
    threshold: float = _LSH_SIM_THRESHOLD,
    dim: int = 64,
) -> DataFrame:
    """Random-hyperplane LSH near-pair mining with multiprobe, exact verify.

    ``emb`` must carry (vec_id, vec: array<double>, norm) — see _with_norm.

    Scale design (the sub-quadratic ANN path, r2 VERDICT item 4):

    - **2^20 buckets per table** (20 sign bits packed into one BIGINT key),
      so the per-table bucket join is ~n²/2^20 expected candidate pairs on
      hash-uniform data — at n=10^9 that is a ~10^6× reduction vs all
      pairs, and the shuffle key space (6·2^20) spreads across any
      executor count. The r1 parameterization (4 bits → 16 buckets) was
      ~n²/16 — correct output, quadratic cost; this is the fix.
    - **Multiprobe radius 1**: each vector probes its own bucket plus the
      20 one-bit-flip neighbors, recovering the recall that 20 AND-ed bits
      destroy. Collision ⇔ signature Hamming distance ≤ 1 in some table.
    - **6 OR-ed tables**: measured on planted cos≈0.95 near-duplicates
      (tests/test_ann_lsh.py) this reaches recall 1.0 at sf0.01 while
      candidates stay ≈0.02% of n²/2. The sign-bit S-curve means pairs at
      cos≤0.5 (this synthetic corpus's whole range) are *designed* to be
      missed at scale-safe bucket counts; the operator targets the
      near-duplicate regime (cos ≳ 0.9), with embedding_cosine_near_dup
      as the exact O(n²) reference for the weak-similarity range.
    - **Candidates travel as id pairs only** (16 bytes), vectors re-joined
      for the exact-cosine verify afterwards — at 100 TB the 64-double
      payload must not ride the (k+1)·L-way probe fan-out.
    """
    import random

    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    rng = random.Random(42)
    # (L·k)×dim plane matrix, fixed seed → deterministic across runs. The
    # signature is a dense matrix multiply (batch×dim @ dim×120 → sign
    # bits), which interpreted Catalyst higher-order functions evaluate at
    # ~23k boxed lambda calls per row (measured 12-21 s on 500 rows); the
    # Arrow-batched BLAS path below is the 100 TB shape — one GEMM per
    # record batch, planes shipped once per task in the closure (same seam
    # as cosine_topk_pandas above).
    planes_t = np.array(
        [
            [rng.gauss(0.0, 1.0) for _ in range(dim)]
            for _ in range(n_tables * n_planes)
        ]
    ).T  # dim × (L·k)
    pack = 1 << np.arange(n_planes, dtype=np.int64)  # k bit weights

    def sig_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            V = np.array(pdf["vec"].tolist(), dtype=np.float64)  # batch × dim
            bits = (V @ planes_t >= 0).astype(np.int64)  # batch × (L·k)
            sigs = bits.reshape(len(V), n_tables, n_planes) @ pack  # batch × L
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_tables),
                    "tbl": np.tile(np.arange(n_tables), len(V)),
                    "bucket": sigs.ravel(),
                }
            )

    longd = emb.select("vec_id", "vec").mapInPandas(
        sig_batches, schema="vec_id long, tbl int, bucket long"
    )
    exact = longd.select("vec_id", "tbl", "bucket")
    s = F.col("bucket")
    probed = longd.select(
        F.col("vec_id").alias("probe_id"),
        "tbl",
        F.explode(
            F.array(s, *[s.bitwiseXOR(F.lit(1 << b)) for b in range(n_planes)])
        ).alias("bucket"),
    )
    pairs = (
        exact.join(probed, ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            F.least("vec_id", "probe_id").alias("vec_a"),
            F.greatest("vec_id", "probe_id").alias("vec_b"),
        )
        .distinct()  # multiprobe + OR tables re-derive the same pair
    )

    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("vec").alias("va"),
        F.col("norm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("vec").alias("vb"),
        F.col("norm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim = dot / (F.col("na") * F.col("nb"))
    return (
        pairs.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", F.round(sim, 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


@register(
    "ann_lsh_bucketed",
    oracle=None,  # hash-family dependent → rows-only driver check
    doc="approximate near-pair search via random-hyperplane LSH: "
    f"{_LSH_TABLES} tables × {_LSH_PLANES} signed projections packed into "
    "BIGINT bucket keys, multiprobe radius 1, candidate id-pairs only, "
    "exact-cosine verify on the collided set. Sub-quadratic by "
    "construction (~n²/2^20 expected candidates per table); recall 1.0 on "
    "planted cos≈0.95 near-duplicates pinned in tests/test_ann_lsh.py.",
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    return lsh_near_pairs(emb)


@register(
    "embedding_centroids_by_label",
    oracle="""
        WITH exploded AS (
            SELECT CAST(label AS BIGINT) AS label,
                   generate_subscripts(embedding, 1) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings
        )
        SELECT label, CAST(pos AS BIGINT) AS pos,
               round(avg(x), 4) AS centroid,
               CAST(count(*) AS BIGINT) AS n_vectors
        FROM exploded GROUP BY 1, 2
    """,
    doc="per-label centroid vectors — the reduce step of k-means / the "
    "class-prototype computation for embedding pipelines: posexplode the "
    "vector, partial-agg avg per (label, dimension). One dimension-"
    "factored shuffle of |labels|x|dims| cells regardless of row count — "
    "the map-side combine does the 100 TB heavy lifting. Emitted in "
    "(label, pos, value) long form, 1-based pos to match SQL "
    "generate_subscripts.",
)
def embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select(
            F.col("label").cast("long").alias("label"),
            F.posexplode(
                F.transform(F.col("embedding"), lambda x: x.cast("double"))
            ).alias("pos0", "x"),
        )
        .groupBy("label", (F.col("pos0") + 1).cast("long").alias("pos"))
        .agg(
            F.round(F.avg("x"), 4).alias("centroid"),
            F.count("*").alias("n_vectors"),
        )
    )


# --- round-1 driver-verified queries register LAST: the driver checks
# registration order and these two already have green CORRECTNESS_r01 rows,
# so the five queries above take the earlier driver slots (plans/__init__.py) ---
@register(
    "cosine_topk_bruteforce",
    oracle=f"""
        WITH exploded AS (
            SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings
        ), norms AS (
            SELECT vec_id, sqrt(sum(x * x)) AS norm FROM exploded GROUP BY vec_id
        ), dots AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   sum(a.x * b.x) AS dot
            FROM exploded a
            JOIN exploded b ON a.i = b.i
            WHERE a.vec_id < {_N_QUERIES} AND b.vec_id <> a.vec_id
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id,
               round(d.dot / (na.norm * nb.norm), 4) AS cosine
        FROM dots d
        JOIN norms na ON d.query_id = na.vec_id
        JOIN norms nb ON d.neighbor_id = nb.vec_id
        QUALIFY row_number() OVER (
            PARTITION BY query_id
            ORDER BY round(d.dot / (na.norm * nb.norm), 6) DESC, neighbor_id
        ) <= {_TOP_K}
    """,
    doc=f"brute-force cosine top-{_TOP_K} for {_N_QUERIES} query vectors "
    "(tier-4 ANN exact baseline). zip_with+aggregate dot product (JVM "
    "higher-order fns, no UDF); queries broadcast, so the big side never "
    "shuffles — at 100 TB this is one scan + per-partition top-k.",
    bench=True,
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    # broadcast the tiny query set against the full corpus (scan-only big side)
    # CROSSJOIN: |queries|-row query frame — fixed eval-set size (scan-only big
    # side)
    pairs = emb.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    dot = F.aggregate(
        F.zip_with(F.col("vec"), F.col("qvec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim = dot / (F.col("norm") * F.col("qnorm"))
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cos_raw"), 6).desc(), F.col("neighbor_id")
    )
    return (
        pairs.select(
            "query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("cos_raw")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "neighbor_id", F.round("cos_raw", 4).alias("cosine"))
    )


@register(
    "embedding_norm_stats",
    oracle="""
        WITH exploded AS (
            SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings
        )
        SELECT label,
               CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vectors,
               round(avg(x), 4) AS avg_component,
               round(min(x), 4) AS min_component,
               round(max(x), 4) AS max_component
        FROM exploded
        GROUP BY label
    """,
    doc="per-label embedding component stats via array explode (vector "
    "column plumbing sanity; F.explode over array<float> ≡ DuckDB lateral "
    "range join).",
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select(
            "vec_id",
            "label",
            F.explode(F.transform("embedding", lambda x: x.cast("double"))).alias("x"),
        )
        .groupBy("label")
        .agg(
            F.countDistinct("vec_id").alias("n_vectors"),
            F.round(F.avg("x"), 4).alias("avg_component"),
            F.round(F.min("x"), 4).alias("min_component"),
            F.round(F.max("x"), 4).alias("max_component"),
        )
    )


_PQ_BLOCKS = 8  # 64 dims -> 8 sub-blocks of 8
_PQ_K = 256  # centroids per block -> 8-bit codes, 8 codes -> one BIGINT
_PQ_TRAIN_SAMPLE = 10_000  # codebook training sample cap (driver-bounded)
_PQ_SHORTLIST = 50  # ADC candidates per query fed to the exact re-rank


def _pq_unit_sample(emb):
    """Bounded deterministic training sample as unit vectors (FAISS
    pattern: quantizers train on a ≤10k hash-ordered sample, never the
    full corpus)."""
    import numpy as np

    pdf = (
        emb.select("vec", "norm")
        .orderBy(F.xxhash64("vec_id"), "vec_id")  # deterministic "sample"
        .limit(_PQ_TRAIN_SAMPLE)
        # COLLECT: _PQ_TRAIN_SAMPLE-limited codebook training sample,
        # Arrow batch transfer (not Row-object deserialization)
        .toPandas()
    )
    return np.array(pdf["vec"].tolist()) / np.maximum(
        pdf["norm"].to_numpy()[:, None], 1e-12
    )


def _lloyd(X, k, rng):
    """Seeded numpy Lloyd k-means, 20 iterations, GEMM distances (the
    ||x||²+||c||²-2x·c identity, not O(n·k·d) broadcasting). Centroid
    update is k-vectorized too: per-dimension bincount scatter-sums, not
    a Python loop over clusters (the loop was 60% of pq_adc_topk's bench
    cost). Empty clusters keep their previous centroid. Shared by every
    PQ/IVF trainer so empty-cluster / seed policy stays in one place."""
    import numpy as np

    C = X[rng.choice(len(X), k, replace=False)].copy()
    x2 = (X**2).sum(axis=1)[:, None]
    d = X.shape[1]
    prev = None
    # r16 perf: same ((x2 + c2) - 2·XCᵀ) expression tree evaluated with a
    # reused GEMM buffer and in-place scale/subtract — bit-identical values
    # (verified elementwise), ~5x less allocator/memory traffic than the
    # chained broadcasting form, which built three (n, k) temporaries per
    # iteration (guide §4.2: hand whole batches to native code, and keep
    # the hot loop allocation-free).
    gemm = np.empty((len(X), k))
    for _ in range(20):
        M = np.matmul(X, C.T, out=gemm)
        M *= 2.0
        d2 = x2 + (C**2).sum(axis=1)[None, :]
        d2 -= M
        a = d2.argmin(axis=1)
        if prev is not None and np.array_equal(a, prev):
            break  # converged: remaining iterations would be no-ops
        prev = a
        counts = np.bincount(a, minlength=k)
        sums = np.empty((k, d))
        for j in range(d):
            sums[:, j] = np.bincount(a, weights=X[:, j], minlength=k)
        nz = counts > 0
        C[nz] = sums[nz] / counts[nz, None]
    return C


def _adc_refine(spark, scored, qrows, emb):
    """Stage 2 of the FAISS shape, shared by pq_adc_topk / ivf_pq_topk:
    ADC top-``_PQ_SHORTLIST`` shortlist (id pairs only) -> exact-cosine
    re-rank -> top-``_TOP_K``. The query side is rebuilt from the
    already-collected ``qrows`` (no second table scan)."""
    # RAW adc_dist, not round(.., 6): each row's ADC distance is a pure
    # function of (its codes, the query LUT) — independent of batch/
    # partition layout, so the raw double is already deterministic — and
    # the per-batch numpy prune must share this exact total order (numpy
    # and Spark ROUND HALF_UP disagree on boundary doubles, which would
    # break the prune's containment argument).
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist"), F.col("neighbor_id")
    )
    shortlist = (
        scored.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= _PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    qv = spark.createDataFrame(
        [(int(r.vec_id), list(r.vec), float(r.norm)) for r in qrows],
        "query_id long, qvec array<double>, qnorm double",
    )
    nv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").alias("nvec"),
        F.col("norm").alias("nnorm"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("nvec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("qnorm") * F.col("nnorm"))
    w_exact = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cos_raw"), 6).desc(), F.col("neighbor_id")
    )
    return (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cos_raw"))
        .withColumn("rn", F.row_number().over(w_exact))
        .filter(F.col("rn") <= _TOP_K)
        .select(
            "query_id", "neighbor_id", F.round("cos_raw", 4).alias("cosine")
        )
    )


def _train_blocks_distributed(spark, X, dpb: int, k: int, seed: int):
    """Train the ``_PQ_BLOCKS`` per-subspace Lloyd codebooks in ONE Arrow
    stage — 8 parallel tasks instead of a serial driver loop (guide §4:
    the subspaces are embarrassingly parallel, and the driver should not
    run data work inside the timed region; r16 measured the serial loop
    at 0.3-1.1 s depending on BLAS-pool contention with the JVM).

    Determinism: each block trains under its OWN seeded generator
    ``default_rng([seed, block])`` — a pure function of (seed, block), so
    the result is independent of task scheduling/order. (The previous
    serial form threaded one shared rng through the blocks, so block b's
    init depended on blocks 0..b-1; per-block seeding changes the
    codebooks, which is allowed for these rows-only/recall-floored
    queries — recall re-pinned in tests/test_pq.py and the driver's
    ann_recall_audit.) The ≤10k×64 sample ships once as a broadcast, and
    ``spark.range(..., numPartitions=_PQ_BLOCKS)`` gives exactly one
    block per task with NO shuffle (hash-repartitioning 8 ids into 8
    partitions would collide, guide §2.5).
    """
    import numpy as np
    import pandas as pd

    n_blocks = _PQ_BLOCKS
    bX = spark.sparkContext.broadcast(X)

    def train(batches):
        X_ = bX.value
        for pdf in batches:
            for blk in pdf["block"]:
                b = int(blk)
                C = _lloyd(
                    X_[:, b * dpb : (b + 1) * dpb],
                    k,
                    np.random.default_rng([seed, b]),
                )
                yield pd.DataFrame({"block": [b], "cb": [C.ravel()]})

    try:
        rows = (
            spark.range(0, n_blocks, 1, n_blocks)
            .toDF("block")
            .mapInPandas(train, schema="block long, cb array<double>")
            # COLLECT: n_blocks × (k·dpb) codebook doubles — fixed-size
            # quantizer state (8×256×8 ≈ 16k values), never corpus-sized
            .collect()
        )
    finally:
        bX.destroy()
    books = np.empty((n_blocks, k, dpb))
    for r in rows:
        books[int(r["block"])] = np.asarray(r["cb"]).reshape(k, dpb)
    return books


def _pq_codebooks(emb, seed: int = 42):
    """Train the per-block codebooks on a bounded sample.

    The FAISS-standard split: codebooks are trained on a SAMPLE (here
    ≤10k unit vectors via deterministic hash order — at 100 TB you never
    k-means the full corpus for a quantizer), then encoding runs
    distributed. Seeded numpy Lloyd iterations, k=min(256, sample) per
    8-dim block, trained as one 8-task Arrow stage
    (:func:`_train_blocks_distributed`).
    Returns (blocks, k, dim_per_block) codebook array.
    """
    U = _pq_unit_sample(emb)
    n, dim = U.shape
    dpb = dim // _PQ_BLOCKS
    k = min(_PQ_K, n)  # tiny corpora can't support 256 centroids
    return _train_blocks_distributed(emb.sparkSession, U, dpb, k, seed)


@register(
    "pq_adc_topk",
    oracle=None,  # trainer-specific codebooks -> rows-only driver check
    doc=f"product-quantization ANN (the 64x-compression scale path): "
    f"{_PQ_BLOCKS} sub-blocks x {_PQ_K} centroids = 8-bit codes, "
    "8 bytes/vector of index state — 64x smaller than the raw 512-byte "
    "vectors, small enough to keep in memory fleet-wide at 100 TB. "
    "Codebooks train on a bounded driver-side sample "
    "(deterministic hash-ordered 10k cap); encoding + asymmetric-"
    "distance scoring run distributed via Arrow-batch numpy (one GEMM-"
    "class pass per batch); each query's 8x256 lookup table ships in the "
    f"task closure. Two-stage FAISS shape: ADC top-{_PQ_SHORTLIST} "
    "shortlist (id pairs only) -> exact-cosine re-rank -> top-3. Recall "
    "vs brute force pinned in tests/test_pq.py.",
    bench=True,
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    books = _pq_codebooks(emb)
    dpb = books.shape[2]

    # COLLECT: the _N_QUERIES-row query-vector set (dimension-sized by
    # contract — retrieval queries, not corpus rows)
    qrows = sorted(
        emb.filter(F.col("vec_id") < _N_QUERIES).collect(),
        key=lambda r: r.vec_id,
    )
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qmat = np.array([r.vec for r in qrows]) / np.array(
        [[r.norm] for r in qrows]
    )
    # per-query lookup tables: LUT[q, b, c] = ||q_b - centroid[b, c]||^2
    lut = np.empty((len(qids), _PQ_BLOCKS, books.shape[1]))
    for b in range(_PQ_BLOCKS):
        qb = qmat[:, b * dpb : (b + 1) * dpb]
        lut[:, b, :] = ((qb[:, None, :] - books[b][None, :, :]) ** 2).sum(
            axis=2
        )

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            V = np.array(pdf["vec"].tolist(), dtype=np.float64)
            V = V / np.maximum(
                np.linalg.norm(V, axis=1, keepdims=True), 1e-12
            )  # zero-norm rows stay zero instead of going NaN
            n = len(V)
            codes = np.empty((n, _PQ_BLOCKS), dtype=np.int64)
            for b in range(_PQ_BLOCKS):
                Xb = V[:, b * dpb : (b + 1) * dpb]
                Cb = books[b]
                d2 = (
                    (Xb**2).sum(axis=1)[:, None]
                    + (Cb**2).sum(axis=1)[None, :]
                    - 2.0 * (Xb @ Cb.T)
                )
                codes[:, b] = d2.argmin(axis=1)
            # ADC: approx dist(q, x) = sum_b LUT[q, b, code_b(x)]
            adc = lut[:, np.arange(_PQ_BLOCKS)[None, :], codes].sum(axis=2)
            # per-batch shortlist prune (exact): keep each query's top
            # _PQ_SHORTLIST neighbors under the SAME total order the global
            # window uses — (RAW adc asc, neighbor_id asc; raw doubles on
            # both sides so numpy and Spark can't disagree on rounding),
            # self pair excluded. The global top-k of a union of per-batch
            # top-ks is identical to the unpruned global top-k, so
            # downstream results are bit-for-bit unchanged while Arrow
            # transfer + window input shrink from n rows/query/batch to
            # <=_PQ_SHORTLIST. At 100 TB this is the difference between
            # shuffling n_queries x corpus and n_queries x (shortlist x
            # n_partitions).
            nb = pdf["vec_id"].to_numpy()
            out_q, out_n, out_d = [], [], []
            for qi in range(len(qids)):
                mask = nb != qids[qi]
                cand_n = nb[mask]
                order = np.lexsort((cand_n, adc[qi][mask]))[:_PQ_SHORTLIST]
                out_q.append(np.full(len(order), qids[qi], dtype=np.int64))
                out_n.append(cand_n[order])
                out_d.append(adc[qi][mask][order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "adc_dist": np.concatenate(out_d),
                }
            )

    scored = emb.select("vec_id", "vec").mapInPandas(
        score_batches, schema="query_id long, neighbor_id long, adc_dist double"
    )
    # stage 2 (FAISS-style refine, shared with ivf_pq_topk): ADC shortlist
    # as id pairs -> exact-cosine re-rank
    return _adc_refine(spark, scored, qrows, emb)


# deliberately separate from _IVF_CELLS/_IVF_NPROBE: ann_ivf_topk trains
# its coarse quantizer with distributed MLlib KMeans, this one with the
# sample-based numpy trainer — the two geometries tune independently
_IVFPQ_CELLS = 16
_IVFPQ_NPROBE = 4


@register(
    "ivf_pq_topk",
    oracle=None,  # trainer-specific quantizers -> rows-only driver check
    doc=f"IVF-PQ ANN — the production index composition: a coarse "
    f"quantizer ({_IVFPQ_CELLS} cells) partitions the corpus, PQ encodes "
    "the RESIDUAL (x - cell centroid) at 8 bytes/vector, queries probe "
    f"their {_IVFPQ_NPROBE} nearest cells and score only those cells' "
    "codes via per-(query, cell) ADC lookup tables, then an exact-cosine "
    "re-rank refines the shortlist. All quantizers train on one bounded "
    "driver-side sample (the FAISS pattern); encoding and scoring run "
    "distributed via Arrow-batch numpy. At 100 TB the corpus is "
    "partitioned BY cell id, so a query touches nprobe/cells of the "
    "data AND reads 64x-compressed codes — the two scale levers "
    "(ann_ivf_topk, pq_adc_topk) composed. Recall on planted near-dups "
    "pinned in tests/test_pq.py.",
)
def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))

    # ---- train coarse + residual quantizers on one bounded sample --------
    U = _pq_unit_sample(emb)
    n, dim = U.shape
    rng = np.random.default_rng(42)

    coarse = _lloyd(U, min(_IVFPQ_CELLS, n), rng)  # cells × dim
    cells_of_sample = (
        ((U**2).sum(1)[:, None] + (coarse**2).sum(1)[None, :] - 2 * U @ coarse.T)
        .argmin(axis=1)
    )
    resid = U - coarse[cells_of_sample]
    dpb = dim // _PQ_BLOCKS
    k_pq = min(_PQ_K, n)
    # r17: residual codebooks train as one 8-task Arrow stage with
    # per-block seeded RNGs (see _train_blocks_distributed); the coarse
    # quantizer above stays driver-side — one k=16 Lloyd is cheaper than
    # a Spark job.
    books = _train_blocks_distributed(spark, resid, dpb, k_pq, 42)

    # ---- encode distributed: cell id + residual codes --------------------
    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            V = np.array(pdf["vec"].tolist(), dtype=np.float64)
            V = V / np.maximum(
                np.linalg.norm(V, axis=1, keepdims=True), 1e-12
            )  # zero-norm rows stay zero instead of going NaN
            d2c = (
                (V**2).sum(1)[:, None]
                + (coarse**2).sum(1)[None, :]
                - 2.0 * (V @ coarse.T)
            )
            cell = d2c.argmin(axis=1)
            R = V - coarse[cell]
            codes = np.empty((len(V), _PQ_BLOCKS), dtype=np.int64)
            for b in range(_PQ_BLOCKS):
                Rb = R[:, b * dpb : (b + 1) * dpb]
                Cb = books[b]
                d2 = (
                    (Rb**2).sum(1)[:, None]
                    + (Cb**2).sum(1)[None, :]
                    - 2.0 * (Rb @ Cb.T)
                )
                codes[:, b] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": cell,
                    "codes": list(codes),
                }
            )

    encoded = emb.select("vec_id", "vec").mapInPandas(
        encode, schema="vec_id long, cell int, codes array<long>"
    )

    # ---- query side: probe cells, per-(query, cell) residual LUTs --------
    # COLLECT: the _N_QUERIES-row query-vector set (dimension-sized by
    # contract — retrieval queries, not corpus rows)
    qrows = sorted(
        emb.filter(F.col("vec_id") < _N_QUERIES).collect(),
        key=lambda r: r.vec_id,
    )
    qids = [int(r.vec_id) for r in qrows]
    qmat = np.array([r.vec for r in qrows]) / np.array(
        [[r.norm] for r in qrows]
    )
    qd2c = (
        (qmat**2).sum(1)[:, None]
        + (coarse**2).sum(1)[None, :]
        - 2.0 * (qmat @ coarse.T)
    )
    probe_cells = np.argsort(qd2c, axis=1)[:, :_IVFPQ_NPROBE]
    probes = spark.createDataFrame(
        [
            (qids[qi], int(c))
            for qi in range(len(qids))
            for c in probe_cells[qi]
        ],
        "query_id long, cell int",
    )
    # LUT[(qi, cell)][b, code] = ||(q - c_cell)_b - book_b[code]||^2
    lut: dict[tuple[int, int], "np.ndarray"] = {}
    for qi in range(len(qids)):
        for c in probe_cells[qi]:
            qr = qmat[qi] - coarse[c]
            t = np.empty((_PQ_BLOCKS, k_pq))
            for b in range(_PQ_BLOCKS):
                qb = qr[b * dpb : (b + 1) * dpb]
                t[b] = ((books[b] - qb[None, :]) ** 2).sum(axis=1)
            lut[(qids[qi], int(c))] = t

    block_ix = np.arange(_PQ_BLOCKS)

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one LUT gather per (query, cell) GROUP, not per row — the whole
        # group's codes fancy-index the same table in one numpy op (the
        # per-row-Python anti-pattern this file documents elsewhere)
        for pdf in batches:
            if not len(pdf):
                continue
            dists = np.empty(len(pdf))
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            keys = pd.MultiIndex.from_arrays(
                [pdf["query_id"], pdf["cell"]]
            )
            for (q, c), ix in pdf.groupby(keys, sort=False).indices.items():
                t = lut[(int(q), int(c))]
                dists[ix] = t[block_ix[None, :], codes[ix]].sum(axis=1)
            # per-batch shortlist prune under the global window's exact
            # order (RAW adc asc, neighbor_id asc — raw doubles on both
            # sides, see pq_adc_topk's score_batches for the containment
            # argument); input is already self-filtered by the probes join
            # upstream.
            qarr = pdf["query_id"].to_numpy()
            narr = pdf["vec_id"].to_numpy()
            out_q, out_n, out_d = [], [], []
            for q, ix in pdf.groupby("query_id", sort=False).indices.items():
                order = ix[np.lexsort((narr[ix], dists[ix]))[:_PQ_SHORTLIST]]
                out_q.append(qarr[order])
                out_n.append(narr[order])
                out_d.append(dists[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "adc_dist": np.concatenate(out_d),
                }
            )

    scored = (
        encoded.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "cell", "vec_id", "codes")
        .mapInPandas(
            adc, schema="query_id long, neighbor_id long, adc_dist double"
        )
    )
    return _adc_refine(spark, scored, qrows, emb)


# --------------------------------------------------------------------------
# ANN recall audit — oracle-checkable quality gate for the approximate family
# --------------------------------------------------------------------------

# (method, recall@k floor). Floors are deliberately conservative versus the
# measured recalls (see SCALING.md) so data regeneration noise never flips
# them, while a genuine parameter regression (fewer probes, broken encode)
# still trips the boolean and hash-fails the driver row.
_ANN_RECALL_FLOORS = [
    # Calibrated r5 (re-measured 2026-08-14) against the MINIMUM recall
    # across every scale a check runs at — sf0.001 (pytest parity),
    # sf0.01 (driver row), sf0.1 (bench): pandas 1.0 everywhere,
    # ivf .53/.67/.67, pq 1.0/.93/.80, ivfpq .47/.67/.67. Truth has only
    # n_queries*k = 15 pairs, so one flipped neighbor moves recall by
    # 1/15 ≈ .067; floors sit a uniform TWO flips under that minimum —
    # the tightest setting regeneration noise can't flip, and far above
    # a genuine regression (broken encode / collapsed codebook ≈ 0-0.2).
    # r5 deltas: pq 0.5→0.65 (was 4.5 flips slack at its binding scale);
    # ivfpq 0.4→0.33 (its r4 floor had only ONE flip of slack at
    # sf0.001 — the false-alarm hazard, relaxed to the 2-flip contract).
    ("cosine_topk_pandas", 1.0),  # exact control: must equal truth
    ("ann_ivf_topk", 0.4),
    ("pq_adc_topk", 0.65),
    ("ivf_pq_topk", 0.33),
]

_ANN_TRUTH_SQL = f"""
        WITH exploded AS (
            SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings
        ), norms AS (
            SELECT vec_id, sqrt(sum(x * x)) AS norm FROM exploded GROUP BY vec_id
        ), dots AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   sum(a.x * b.x) AS dot
            FROM exploded a
            JOIN exploded b ON a.i = b.i
            WHERE a.vec_id < {_N_QUERIES} AND b.vec_id <> a.vec_id
            GROUP BY 1, 2
        ), truth AS (
            SELECT query_id, neighbor_id
            FROM dots d
            JOIN norms na ON d.query_id = na.vec_id
            JOIN norms nb ON d.neighbor_id = nb.vec_id
            QUALIFY row_number() OVER (
                PARTITION BY query_id
                ORDER BY round(d.dot / (na.norm * nb.norm), 6) DESC, neighbor_id
            ) <= {_TOP_K}
        )
"""


@register(
    "ann_recall_audit",
    oracle=f"""
        {_ANN_TRUTH_SQL}
        , counts AS (
            SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
                   CAST(count(*) AS BIGINT) AS n_truth
            FROM truth
        )
        SELECT m.method, CAST({_TOP_K} AS BIGINT) AS k,
               c.n_queries, c.n_truth, m.recall_floor,
               TRUE AS recall_ok
        FROM (VALUES {", ".join(f"('{m}', {f!r})" for m, f in _ANN_RECALL_FLOORS)})
             m(method, recall_floor)
        CROSS JOIN counts c
    """,
    doc="the recall@k audit that converts the ANN family from rows-only "
    "to a HARD driver check (r3 verdict #1, the minhash_candidate_quality "
    "pattern): every approximate method's top-k is intersected with the "
    "in-query exact cosine truth (the brute-force plan — SQL-replayable, "
    "the deterministic denominator) and held to a per-method recall "
    "floor. The oracle recomputes the truth set + expects recall_ok = "
    "TRUE for every method: if an index parameter regresses (fewer "
    "probes, broken encode, collapsed codebook), the Spark side emits "
    "FALSE and the driver row hash-fails. Floors sit well under measured "
    "recalls so regeneration noise cannot flip them. Exact control "
    "(cosine_topk_pandas) is held to floor 1.0 — it must EQUAL truth.",
)
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = (
        cosine_topk_bruteforce(spark, sf_dir)
        .select("query_id", "neighbor_id")
        # PERSIST: |queries|*k ground-truth rows, joined against every
        # audited ANN variant below; session-LRU lifetime
        .persist()
    )
    methods = {
        "cosine_topk_pandas": cosine_topk_pandas,
        "ann_ivf_topk": ann_ivf_topk,
        "pq_adc_topk": pq_adc_topk,
        "ivf_pq_topk": ivf_pq_topk,
    }
    tagged = None
    for name, _floor in _ANN_RECALL_FLOORS:
        res = (
            methods[name](spark, sf_dir)
            .select("query_id", "neighbor_id")
            .withColumn("method", F.lit(name))
        )
        tagged = res if tagged is None else tagged.unionByName(res)
    hits = (
        tagged.join(truth, ["query_id", "neighbor_id"])
        .groupBy("method")
        .agg(F.count("*").alias("n_hits"))
    )
    floors = spark.createDataFrame(
        _ANN_RECALL_FLOORS, "method string, recall_floor double"
    )
    stats = truth.agg(
        F.count_distinct("query_id").alias("n_queries"),
        F.count("*").alias("n_truth"),
    )
    return (
        floors.join(hits, "method", "left")
        # CROSSJOIN: 1-row stats aggregate onto the fixed method-floor list
        .crossJoin(F.broadcast(stats))
        .select(
            "method",
            F.lit(_TOP_K).cast("long").alias("k"),
            "n_queries",
            "n_truth",
            "recall_floor",
            (
                F.coalesce(F.col("n_hits"), F.lit(0))
                / F.col("n_truth")
                >= F.col("recall_floor")
            ).alias("recall_ok"),
        )
    )


_DECON_EVAL_MOD = 97  # vec_id % 97 == 0 stands in for the held-out benchmark
_DECON_THRESHOLD = 0.30  # corpus is near-random; 0.30 flags the top ~1% tail


@register(
    "decontaminate_by_embedding",
    oracle=f"""
        WITH exploded AS (
            SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings
        ), norms AS (
            SELECT vec_id, sqrt(sum(x * x)) AS norm FROM exploded GROUP BY vec_id
        ), dots AS (
            SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
                   sum(t.x * e.x) AS dot
            FROM exploded t
            JOIN exploded e ON t.i = e.i
            WHERE t.vec_id % {_DECON_EVAL_MOD} <> 0
              AND e.vec_id % {_DECON_EVAL_MOD} = 0
            GROUP BY 1, 2
        ), scored AS (
            SELECT d.train_id, d.eval_id,
                   d.dot / (nt.norm * ne.norm) AS cos_raw
            FROM dots d
            JOIN norms nt ON d.train_id = nt.vec_id
            JOIN norms ne ON d.eval_id = ne.vec_id
        )
        SELECT train_id, eval_id AS matched_eval_id,
               round(cos_raw, 4) AS cosine
        FROM scored
        WHERE round(cos_raw, 6) >= {_DECON_THRESHOLD}
        QUALIFY row_number() OVER (
            PARTITION BY train_id
            ORDER BY round(cos_raw, 6) DESC, eval_id
        ) = 1
    """,
    doc="embedding-space benchmark decontamination (the semantic sibling of "
    "decontaminate_ngram_overlap): every training vector whose cosine to ANY "
    f"held-out benchmark vector (vec_id % {_DECON_EVAL_MOD} == 0 stands in) "
    f"reaches {_DECON_THRESHOLD} is flagged, with its closest benchmark "
    "match. EXACT by design, and exact is also the right 100 TB shape: "
    "benchmark/eval sets are dimension-sized (thousands of vectors), so the "
    "eval side broadcasts and the plan is one linear scan of the training "
    "corpus with a broadcast nested-loop score — no shuffle of the big side, "
    "no ANN recall risk in a correctness-critical filter. Contrast "
    "ann_lsh_bucketed, where BOTH sides are corpus-sized and approximation "
    "is the only viable route.",
)
def decontaminate_by_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    train = emb.filter(F.col("vec_id") % _DECON_EVAL_MOD != 0)
    ev = emb.filter(F.col("vec_id") % _DECON_EVAL_MOD == 0).select(
        F.col("vec_id").alias("eval_id"),
        F.col("vec").alias("evec"),
        F.col("norm").alias("enorm"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("vec"), F.col("evec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        # CROSSJOIN: |eval|-row benchmark frame — dimension-sized eval set
        # (condition-less broadcast NLJ)
        train.join(F.broadcast(ev))  # eval side is dim-sized: broadcast NLJ
        .select(
            F.col("vec_id").alias("train_id"),
            "eval_id",
            (dot / (F.col("norm") * F.col("enorm"))).alias("cos_raw"),
        )
        # threshold compare on the 6dp collapse (module convention): the
        # Spark sequential zip_with fold and DuckDB's arbitrary-order SUM
        # can differ by an ulp exactly on the boundary
        .filter(F.round(F.col("cos_raw"), 6) >= _DECON_THRESHOLD)
    )
    w = Window.partitionBy("train_id").orderBy(
        F.round(F.col("cos_raw"), 6).desc(), F.col("eval_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "train_id",
            F.col("eval_id").alias("matched_eval_id"),
            F.round("cos_raw", 4).alias("cosine"),
        )
    )


_MMR_SHORTLIST = 20  # relevance top-M per query fed to the greedy re-rank
_MMR_K = 5  # diversified results returned per query
_MMR_LAMBDA = 0.7  # relevance weight; 1-λ penalizes similarity to selected


def _mmr_oracle() -> str:
    """Unrolled greedy MMR in ANSI SQL: k-1 chained CTE steps, no recursion.

    All scores are EXACT INTEGERS in 1e-7 units: rel/sim are quantized to
    1e-6 (rel_u/sim_u BIGINT), and with λ=0.7 the MMR score is
    7·rel_u − 3·sim_u — no float rounding anywhere in the greedy, so the
    arg-max sequence (ties → smaller vec_id) is exactly the pandas loop's.
    """
    steps = []
    for i in range(2, _MMR_K + 1):
        prev = f"selu{i - 1}"
        steps.append(f"""
        cand{i} AS (
            SELECT r.query_id, r.cand_id, r.rel_u,
                   7 * r.rel_u - 3 * mx.msim_u AS mmr_u
            FROM rel r
            JOIN (
                SELECT p.query_id, p.a AS cand_id, max(p.sim_u) AS msim_u
                FROM pairsim p
                JOIN {prev} s ON p.query_id = s.query_id AND p.b = s.cand_id
                GROUP BY 1, 2
            ) mx ON mx.query_id = r.query_id AND mx.cand_id = r.cand_id
            WHERE NOT EXISTS (
                SELECT 1 FROM {prev} s2
                WHERE s2.query_id = r.query_id AND s2.cand_id = r.cand_id
            )
        ), sel{i} AS (
            SELECT query_id, cand_id, rel_u, CAST({i} AS BIGINT) AS rank,
                   mmr_u
            FROM cand{i}
            QUALIFY row_number() OVER (
                PARTITION BY query_id ORDER BY mmr_u DESC, cand_id
            ) = 1
        ), selu{i} AS (
            SELECT * FROM selu{i - 1} UNION ALL SELECT * FROM sel{i}
        )""")
    chained = ",".join(steps)
    return f"""
        WITH exploded AS (
            SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings
        ), norms AS (
            SELECT vec_id, sqrt(sum(x * x)) AS norm FROM exploded GROUP BY vec_id
        ), rel AS (
            SELECT query_id, cand_id,
                   CAST(round(rel6 * 1000000) AS BIGINT) AS rel_u
            FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                       round(sum(q.x * c.x) / (nq.norm * nc.norm), 6) AS rel6
                FROM exploded q
                JOIN exploded c ON q.i = c.i
                JOIN norms nq ON q.vec_id = nq.vec_id
                JOIN norms nc ON c.vec_id = nc.vec_id
                WHERE q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
                GROUP BY 1, 2, nq.norm, nc.norm
                QUALIFY row_number() OVER (
                    PARTITION BY query_id ORDER BY rel6 DESC, cand_id
                ) <= {_MMR_SHORTLIST}
            )
        ), pairsim AS (
            SELECT r1.query_id, r1.cand_id AS a, r2.cand_id AS b,
                   CAST(round(sum(ea.x * eb.x) / (na.norm * nb.norm)
                              * 1000000) AS BIGINT) AS sim_u
            FROM rel r1
            JOIN rel r2
              ON r1.query_id = r2.query_id AND r1.cand_id <> r2.cand_id
            JOIN exploded ea ON ea.vec_id = r1.cand_id
            JOIN exploded eb ON eb.vec_id = r2.cand_id AND ea.i = eb.i
            JOIN norms na ON na.vec_id = r1.cand_id
            JOIN norms nb ON nb.vec_id = r2.cand_id
            GROUP BY 1, 2, 3, na.norm, nb.norm
        ), sel1 AS (
            SELECT query_id, cand_id, rel_u, CAST(1 AS BIGINT) AS rank,
                   7 * rel_u AS mmr_u
            FROM rel
            QUALIFY row_number() OVER (
                PARTITION BY query_id ORDER BY 7 * rel_u DESC, cand_id
            ) = 1
        ), selu1 AS (
            SELECT * FROM sel1
        ),{chained}
        SELECT query_id, rank, cand_id AS vec_id,
               round(mmr_u / 10000000.0, 4) + 0.0 AS mmr_score
        FROM selu{_MMR_K}
    """


@register(
    "mmr_diversified_topk",
    oracle=_mmr_oracle(),
    doc="Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998) "
    "— the standard RAG/retrieval diversification step: per query, a "
    f"relevance top-{_MMR_SHORTLIST} shortlist is greedily re-ranked by "
    f"score = λ·rel − (1−λ)·max_sim_to_already_selected (λ={_MMR_LAMBDA}), "
    f"emitting {_MMR_K} diverse results. Two-phase scale shape: phase 1 is "
    "the embarrassingly parallel corpus scan (same plan as "
    "cosine_topk_pandas — at 100 TB swap in the ANN shortlist, identical "
    "downstream); phase 2 is applyInPandas per query group over a "
    f"BOUNDED {_MMR_SHORTLIST}-row shortlist — O(k·M + M²) numpy per group, "
    "groups distribute across executors, no driver loop, no cross-group "
    "traffic. The greedy runs on EXACT INTEGER scores (cosines quantized "
    "to 1e-6 units; λ=0.7 makes the score 7·rel_u − 3·msim_u in 1e-7 "
    "units) so the arg-max sequence is bit-identical to the SQL oracle's "
    "unrolled-CTE replay with NO float rounding anywhere in the loop "
    "(ties break on vec_id).",
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))

    # phase 1: exact relevance shortlist (JVM-side, same shape as topk)
    b_q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("vec"), F.col("qvec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        # CROSSJOIN: |queries|-row query frame — fixed eval-set size
        emb.join(F.broadcast(b_q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.round(dot / (F.col("norm") * F.col("qnorm")), 6).alias("rel6"),
            "vec",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rel6").desc(), F.col("cand_id")
    )
    shortlist = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MMR_SHORTLIST)
        .withColumn("rel_u", F.round(F.col("rel6") * 1e6).cast("long"))
    )

    # phase 2: greedy MMR per query over the bounded shortlist. Scores are
    # EXACT INTEGERS in 1e-7 units (λ=0.7 → score_u = 7·rel_u − 3·msim_u):
    # no float rounding inside the greedy, so the arg-max sequence is
    # bit-identical to the oracle's unrolled-CTE replay, and the only
    # engine-drift surface left is the 1e-6 quantization of raw cosines —
    # the same collapse window every cosine query in this module uses.
    out_schema = "query_id long, rank long, vec_id long, mmr_u long"

    def mmr_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("cand_id").reset_index(drop=True)
        V = np.array(pdf["vec"].tolist(), dtype=np.float64)
        nrm = np.linalg.norm(V, axis=1)
        sim_u = np.rint(V @ V.T / np.outer(nrm, nrm) * 1e6).astype(np.int64)
        rel_u = pdf["rel_u"].to_numpy(dtype=np.int64)
        ids = pdf["cand_id"].to_numpy()
        m = len(pdf)
        selected: list[int] = []
        out = []
        for rank in range(1, min(_MMR_K, m) + 1):
            if not selected:
                score_u = 7 * rel_u
            else:
                msim_u = sim_u[:, selected].max(axis=1)
                score_u = 7 * rel_u - 3 * msim_u
            score_u = score_u.copy()
            score_u[selected] = np.iinfo(np.int64).min  # already taken
            # arg-max with ties to the smaller cand_id (ids are sorted asc)
            best = int(np.argmax(score_u))
            selected.append(best)
            out.append(
                (
                    int(pdf["query_id"].iloc[0]),
                    rank,
                    int(ids[best]),
                    int(score_u[best]),
                )
            )
        return pd.DataFrame(
            out, columns=["query_id", "rank", "vec_id", "mmr_u"]
        )

    return (
        shortlist.groupBy("query_id")
        .applyInPandas(mmr_group, out_schema)
        .select(
            "query_id",
            "rank",
            "vec_id",
            (F.round(F.col("mmr_u") / 1e7, 4) + F.lit(0.0)).alias(
                "mmr_score"
            ),
        )
    )



_RP_DIMS = 16  # 64 -> 16 Johnson-Lindenstrauss sign projection


@register(
    "random_projection_reduce",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings
        ), d AS (
            SELECT unnest(range(1, {_RP_DIMS + 1})) AS j
        ), p AS (
            SELECT e.vec_id, d.j,
                   sum(e.x * (CASE WHEN (e.i * 2654435761 + d.j * 40503)
                                        % 2147483647 % 2 = 0
                              THEN 1.0 ELSE -1.0 END))
                       / sqrt({_RP_DIMS}.0) AS y
            FROM e CROSS JOIN d
            GROUP BY 1, 2
        )
        SELECT vec_id, CAST(j AS BIGINT) AS dim,
               round(y, 6) + 0.0 AS y
        FROM p
    """,
    doc="Johnson-Lindenstrauss dimensionality reduction 64 -> "
    f"{_RP_DIMS} via a DETERMINISTIC Rademacher (+/-1) sign matrix "
    "derived from a portable integer hash of (input_dim, output_dim) — "
    "no materialized projection matrix, no RNG state to ship: every "
    "executor recomputes s_ij in-register, which is exactly how one "
    "projects 100 TB of embeddings without broadcasting anything. "
    "Pure Catalyst (index-aware transform + aggregate higher-order "
    "functions, whole-stage codegen); the oracle replays the identical "
    "sign arithmetic. Downstream ANN/cluster stages consume the reduced "
    "vectors at 4x less memory/shuffle; JL guarantees pairwise-distance "
    "distortion O(sqrt(log n / k)).",
)
def random_projection_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "vec"
        ),
        F.explode(F.sequence(F.lit(1), F.lit(_RP_DIMS))).alias("j"),
    )
    sign = lambda i: F.when(  # noqa: E731 — 1-based input index i
        ((i * 2654435761) + F.col("j") * 40503) % 2147483647 % 2 == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    y = (
        F.aggregate(
            F.transform(F.col("vec"), lambda x, i: x * sign(i + 1)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.sqrt(F.lit(float(_RP_DIMS)))
    )
    return emb.select(
        "vec_id",
        F.col("j").cast("long").alias("dim"),
        (F.round(y, 6) + F.lit(0.0)).alias("y"),
    )


# --------------------------------------------------------------------------
# round-10 bank: centroid-shift audit + greedy one-to-one assignment
# --------------------------------------------------------------------------

_CENTROID_SHIFT_ORACLE = """
    WITH x AS (
        SELECT label, generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ), cent AS (
        SELECT label, i,
               CAST(round(avg(v) * 1000000, 0) AS BIGINT) AS u
        FROM x GROUP BY label, i
    )
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(count(*) AS BIGINT) AS n_dims,
           CAST(sum((a.u - b.u) * (a.u - b.u)) AS BIGINT) AS dist2_u,
           round(sum((a.u - b.u) * (a.u - b.u)) * 1.0
                 / 1000000000000, 6) AS dist2_6
    FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
    GROUP BY 1, 2
"""


@register(
    "label_centroid_shift",
    oracle=_CENTROID_SHIFT_ORACLE,
    doc="embedding distribution-shift audit: per-label centroids "
    "(per-dim means quantized ONCE to 1e-6 integer units - the "
    "moments-first rule; avg combine-order ulp drift is absorbed by the "
    "single quantization), then EXACT integer squared distances between "
    "every label pair. The only float op is the final display ratio "
    "(dist2_u / 1e12, one int/int ratio rounded once - inside the "
    "measured one-op safety band). Scale shape: the pair join runs on "
    "the |labels| x dims POST-AGGREGATION centroid frames, never the "
    "raw exploded fact frame - the expensive stage is one (label, dim) "
    "groupBy with map-side partial aggregation, and the pair stage is "
    "label-dimension-bounded regardless of corpus size.",
)
def label_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "label", F.posexplode("embedding").alias("i0", "v")
    ).select(
        "label", (F.col("i0") + 1).alias("i"), F.col("v").cast("double")
    )
    cent = x.groupBy("label", "i").agg(
        F.round(F.avg("v") * 1_000_000, 0).cast("long").alias("u")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "i", F.col("u").alias("ua")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "i", F.col("u").alias("ub")
    )
    d2 = F.sum(
        (F.col("ua") - F.col("ub")) * (F.col("ua") - F.col("ub"))
    ).cast("long")
    return (
        a.join(b, (a["i"] == b["i"]) & (a["label_a"] < b["label_b"]))
        .groupBy("label_a", "label_b")
        .agg(
            F.count("*").cast("long").alias("n_dims"),
            d2.alias("dist2_u"),
            F.round(d2 * 1.0 / 1_000_000_000_000, 6).alias("dist2_6"),
        )
    )


_GA_STEPS = _N_QUERIES  # the standing 5-vector anchor query set


def _ga_oracle() -> str:
    """Unrolled greedy assignment: five chained argmax CTEs with NOT-IN
    exclusions (the MMR pattern). Scores quantized ONCE to 1e-6 integer
    units before every comparison, (s_u DESC, query_id, item_id) total
    order - both engines replay the identical greedy trajectory."""
    base = f"""
    exploded AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), norms AS (
        SELECT vec_id, sqrt(sum(x * x)) AS norm FROM exploded GROUP BY vec_id
    ), dots AS (
        SELECT a.vec_id AS query_id, b.vec_id AS item_id,
               sum(a.x * b.x) AS dot
        FROM exploded a JOIN exploded b ON a.i = b.i
        WHERE a.vec_id < {_GA_STEPS} AND b.vec_id >= {_GA_STEPS}
        GROUP BY 1, 2
    ), scored AS (
        SELECT d.query_id, d.item_id,
               CAST(round(d.dot / (nq.norm * ni.norm) * 1000000, 0)
                    AS BIGINT) AS s_u
        FROM dots d
        JOIN norms nq ON d.query_id = nq.vec_id
        JOIN norms ni ON d.item_id = ni.vec_id
        WHERE nq.norm > 0 AND ni.norm > 0
    )"""
    ctes = [base.strip()]
    sel = []
    for j in range(1, _GA_STEPS + 1):
        excl = ""
        if j > 1:
            prev = " UNION ALL ".join(
                f"SELECT query_id FROM g{p}" for p in range(1, j)
            )
            previ = " UNION ALL ".join(
                f"SELECT item_id FROM g{p}" for p in range(1, j)
            )
            excl = (
                f" WHERE query_id NOT IN ({prev})"
                f" AND item_id NOT IN ({previ})"
            )
        ctes.append(
            f"g{j} AS (SELECT {j} AS step, query_id, item_id, s_u"
            f" FROM scored{excl}"
            f" ORDER BY s_u DESC, query_id, item_id LIMIT 1)"
        )
        sel.append(
            f"SELECT CAST(step AS BIGINT) AS step, query_id, item_id,"
            f" s_u FROM g{j}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(sel)


def _ga_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cached (query_id, item_id, s_u) pair frame every greedy
    argmax step filters — factored out so the bank plan pin can assert
    the per-step shape (TakeOrderedAndProject over the cache, never a
    recompute of the crossJoin per step)."""
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(
        (F.col("vec_id") < _GA_STEPS) & (F.col("norm") > 0)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    items = emb.filter(
        (F.col("vec_id") >= _GA_STEPS) & (F.col("norm") > 0)
    )
    dot = F.aggregate(
        F.zip_with(F.col("vec"), F.col("qvec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # CROSSJOIN: the _GA_STEPS-row anchor query frame (fixed eval-set
    # size, independent of data scale) broadcast onto the corpus
    # PERSIST: |corpus| x _GA_STEPS scored pairs - one fan-out row set,
    # read by the _GA_STEPS argmax passes in the caller; session-LRU
    return (
        items.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            F.col("vec_id").alias("item_id"),
            F.round(dot / (F.col("norm") * F.col("qnorm")) * 1_000_000, 0)
            .cast("long")
            .alias("s_u"),
        )
        .persist()
    )




@register(
    "greedy_assign_topmatch",
    oracle=_ga_oracle(),
    doc="global one-to-one assignment: greedily match each of the "
    f"{_GA_STEPS} anchor queries to a distinct corpus vector by highest "
    "cosine (the unique-assignment variant of cosine top-k - dedup-aware "
    "retrieval / annotator routing). Scores quantized ONCE to 1e-6 "
    "integer units, the greedy argmax totally ordered by (score DESC, "
    "query, item); the oracle unrolls all five steps with NOT-IN "
    "exclusions (the MMR pattern). Each Spark step is a 1-row "
    "TakeOrderedAndProject argmax (the BPE greedy-loop pattern) - the "
    "corpus-sized pair table itself never leaves the cluster, and the "
    "per-step filter prunes by two bounded id lists.",
)
def greedy_assign_topmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _ga_scored(spark, sf_dir)
    rows = []
    taken_q: list[int] = []
    taken_i: list[int] = []
    for step in range(1, _GA_STEPS + 1):
        # COLLECT: the 1-row greedy argmax, _GA_STEPS steps total -
        # driver traffic bounded by _GA_STEPS rows (the BPE pattern)
        best = (
            scored.filter(
                ~F.col("query_id").isin(taken_q)
                & ~F.col("item_id").isin(taken_i)
            )
            .orderBy(F.desc("s_u"), "query_id", "item_id")
            .limit(1)
            .collect()
        )
        if not best:
            break
        r = best[0]
        rows.append((step, r["query_id"], r["item_id"], r["s_u"]))
        taken_q.append(r["query_id"])
        taken_i.append(r["item_id"])
    return spark.createDataFrame(
        rows, schema="step long, query_id long, item_id long, s_u long"
    )


_NDCG_K = 10
# the standing eval set (vec_id < 5 are the query vectors) — derived
# from the module's one source of truth so the query/corpus boundary
# cannot drift between ndcg and the other eval-set queries
_NDCG_QUERIES = _N_QUERIES
# 1e6-quantized position discounts w[i] = round(1e6 / log2(i + 1)),
# PRECOMPUTED in Python once at import — zero runtime libm on either
# engine, so DCG and IDCG are exact integer sums
_NDCG_W = [round(1_000_000 / math.log2(i + 1)) for i in range(1, _NDCG_K + 1)]
_NDCG_PREFIX = [sum(_NDCG_W[: j + 1]) for j in range(_NDCG_K)]
_NDCG_W_SQL = "[" + ", ".join(str(w) for w in _NDCG_W) + "]"
_NDCG_PFX_SQL = "[" + ", ".join(str(p) for p in _NDCG_PREFIX) + "]"


@register(
    "ndcg_at10_exact",
    oracle=f"""
    WITH exploded AS (
        SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), norms AS (
        SELECT vec_id, label, sqrt(sum(x * x)) AS norm
        FROM exploded GROUP BY 1, 2
    ), q AS (
        SELECT vec_id AS query_id, label AS qlabel, norm AS qnorm
        FROM norms WHERE vec_id < {_NDCG_QUERIES} AND norm > 0
    ), c AS (
        SELECT vec_id, label, norm FROM norms
        WHERE vec_id >= {_NDCG_QUERIES} AND norm > 0
    ), dots AS (
        SELECT a.vec_id AS query_id, b.vec_id,
               sum(a.x * b.x) AS dot
        FROM exploded a JOIN exploded b ON a.i = b.i
        WHERE a.vec_id < {_NDCG_QUERIES} AND b.vec_id >= {_NDCG_QUERIES}
        GROUP BY 1, 2
    ), scored AS (
        SELECT d.query_id, q.qlabel, d.vec_id, c.label,
               round(d.dot / (q.qnorm * c.norm), 6) AS cos6
        FROM dots d
        JOIN q ON q.query_id = d.query_id
        JOIN c ON c.vec_id = d.vec_id
    ), ranked AS (
        SELECT query_id, qlabel, vec_id, label,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cos6 DESC, vec_id
               ) AS rnk
        FROM scored
    ), rel_corpus AS (
        SELECT q.query_id,
               CAST(count(*) AS BIGINT) AS n_rel
        FROM q JOIN c ON c.label = q.qlabel
        GROUP BY 1
    ), dcg AS (
        SELECT query_id, qlabel,
               CAST(coalesce(sum(CASE WHEN label = qlabel
                   THEN ({_NDCG_W_SQL})[rnk] ELSE 0 END), 0) AS BIGINT)
                   AS dcg_units
        FROM ranked WHERE rnk <= {_NDCG_K}
        GROUP BY 1, 2
    )
    SELECT d.query_id, d.qlabel, r.n_rel, d.dcg_units,
           CAST(({_NDCG_PFX_SQL})[CAST(least(r.n_rel, {_NDCG_K}) AS INT)]
                AS BIGINT) AS idcg_units,
           round(d.dcg_units * 1.0
                 / ({_NDCG_PFX_SQL})[CAST(least(r.n_rel, {_NDCG_K})
                                          AS INT)],
                 6) AS ndcg
    FROM dcg d JOIN rel_corpus r USING (query_id)
    WHERE r.n_rel > 0
    """,
    doc=f"NDCG@{_NDCG_K} retrieval quality with binary label relevance "
    "for the standing 5-query eval set against the rest of the corpus: "
    "ranking by the proven (round(cos, 6) DESC, vec_id) collapse order "
    "(the cosine_topk tie rule); position discounts 1/log2(i+1) are "
    "PRECOMPUTED at import as 1e-6-unit integers — zero runtime libm "
    "on either engine — so DCG and IDCG are exact integer sums and "
    "NDCG is one int/int display ratio. IDCG caps the ideal at "
    "min(#relevant, k); queries with no relevant corpus item are "
    "excluded symmetrically. Scale: one scan of the corpus against "
    "the broadcast fixed query frame (the cosine_topk shape), one "
    "k-bounded per-query window on the scored frame; the relevance "
    "counts reduce the corpus to a |queries|-row dim. Reference has "
    "no counterpart.",
)
def ndcg_at10_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    withn = cast_double_with_norm(emb, keep=("vec_id", "label")).filter(
        F.col("norm") > 0
    )
    q = withn.filter(F.col("vec_id") < _NDCG_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    c = withn.filter(F.col("vec_id") >= _NDCG_QUERIES)
    dot = F.aggregate(
        F.zip_with("vec", "qvec", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # CROSSJOIN: the fixed 5-row query-anchor frame fans out onto the
    # corpus scan (the cosine_topk / greedy_assign anchor class)
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "qlabel",
        "vec_id",
        "label",
        F.round(dot / (F.col("qnorm") * F.col("norm")), 6).alias("cos6"),
    )
    wrank = Window.partitionBy("query_id").orderBy(
        F.desc("cos6"), "vec_id"
    )
    ranked = scored.withColumn("rnk", F.row_number().over(wrank)).filter(
        F.col("rnk") <= _NDCG_K
    )
    w_arr = F.array(*[F.lit(w) for w in _NDCG_W])
    pfx_arr = F.array(*[F.lit(p) for p in _NDCG_PREFIX])
    dcg = ranked.groupBy("query_id", "qlabel").agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("label") == F.col("qlabel"),
                    F.element_at(w_arr, F.col("rnk")),
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("dcg_units")
    )
    # broadcast the fixed query-label frame onto the corpus label scan;
    # the result reduces to a |queries|-row relevance dim
    rel = (
        F.broadcast(q.select("query_id", "qlabel"))
        .join(c, F.col("qlabel") == c["label"])
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_rel"))
    )
    # |queries|-row relevance-count dim broadcast onto the DCG frame
    out = dcg.join(F.broadcast(rel), "query_id").filter(F.col("n_rel") > 0)
    idcg = F.element_at(
        pfx_arr, F.least(F.col("n_rel"), F.lit(_NDCG_K)).cast("int")
    )
    return out.select(
        "query_id",
        "qlabel",
        "n_rel",
        "dcg_units",
        idcg.cast("long").alias("idcg_units"),
        F.round(F.col("dcg_units") * 1.0 / idcg, 6).alias("ndcg"),
    )


_KM_K = 4  # clusters; seeds = the k smallest vec_ids


def _km_q6_int(col):
    """ONE half-away quantization of a raw coordinate to 1e-6 units —
    the kmeans_lloyd_2iter entry grid (everything after it is exact
    integer arithmetic)."""
    return (
        F.signum(col) * F.floor(F.abs(col) * 1_000_000 + F.lit(0.5))
    ).cast("long")


@register(
    "kmeans_lloyd_2iter",
    oracle=f"""
    WITH exploded AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), xu AS (
        SELECT vec_id, i,
               CAST(sign(x) * floor(abs(x) * 1000000 + 0.5) AS BIGINT)
                   AS xu
        FROM exploded
    ), c0 AS (
        SELECT vec_id AS cluster_id, i, xu AS cu FROM xu
        WHERE vec_id < {_KM_K}
    ), d1 AS (
        SELECT v.vec_id, c.cluster_id,
               CAST(sum((v.xu - c.cu) * (v.xu - c.cu)) AS BIGINT)
                   AS dist_u
        FROM xu v JOIN c0 c USING (i) GROUP BY 1, 2
    ), a1 AS (
        SELECT vec_id, cluster_id FROM (
            SELECT vec_id, cluster_id,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY dist_u, cluster_id
                   ) AS rn
            FROM d1
        ) WHERE rn = 1
    ), c1 AS (
        SELECT a.cluster_id, x.i,
               CAST(CAST(sign(sum(x.xu)) AS BIGINT)
                    * ((2 * abs(sum(x.xu)) + count(*))
                       // (2 * count(*))) AS BIGINT) AS cu
        FROM a1 a JOIN xu x USING (vec_id) GROUP BY 1, 2
    ), d2 AS (
        SELECT v.vec_id, c.cluster_id,
               CAST(sum((v.xu - c.cu) * (v.xu - c.cu)) AS BIGINT)
                   AS dist_u
        FROM xu v JOIN c1 c USING (i) GROUP BY 1, 2
    ), a2 AS (
        SELECT vec_id, cluster_id, dist_u FROM (
            SELECT vec_id, cluster_id, dist_u,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY dist_u, cluster_id
                   ) AS rn
            FROM d2
        ) WHERE rn = 1
    ), c2 AS (
        SELECT a.cluster_id, x.i,
               CAST(CAST(sign(sum(x.xu)) AS BIGINT)
                    * ((2 * abs(sum(x.xu)) + count(*))
                       // (2 * count(*))) AS BIGINT) AS cu
        FROM a2 a JOIN xu x USING (vec_id) GROUP BY 1, 2
    )
    SELECT m.cluster_id, m.n_members, m.inertia_u, s.centroid_checksum
    FROM (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(dist_u) AS BIGINT) AS inertia_u
        FROM a2 GROUP BY 1
    ) m JOIN (
        SELECT cluster_id, CAST(sum(cu) AS BIGINT) AS centroid_checksum
        FROM c2 GROUP BY 1
    ) s USING (cluster_id)
    """,
    doc=f"two deterministic Lloyd iterations, k = {_KM_K}, seeds = the "
    "k smallest vec_ids — the distributed k-means inner loop (MLlib's "
    "KMeans is seed/parallelism-dependent; this form any engine "
    "replays bit-exactly). The ENTIRE algorithm is integer arithmetic "
    "after ONE quantization of the raw coordinates (1e-6-unit "
    "half-away ints): distances are exact integer sums of (xu-cu)^2, "
    "argmin is totally ordered by (dist, cluster_id), the centroid "
    "recompute is the integer half-away mean sign(s)*((2|s|+n) div "
    "2n) — zero float ops inside the iteration, so the oracle replays "
    "both iterations via unrolled CTEs with no ulp argument anywhere "
    "(the compounding hazard of a quantized-float centroid feeding "
    "iteration 2's argmin never arises). Scale: per iteration one "
    "broadcast join of the k x dims centroid table against the "
    "exploded coordinates + one groupBy per (vector, cluster) — "
    "map-side combine, no collect at all; centroids never leave the "
    "cluster. BIGINT bound: at unit norm ||x-c||^2 <= 4 i.e. dist_u "
    "<= ~4e12 units (the norm caps the whole sum), so per-cluster "
    "inertia_u fits BIGINT up to ~2.3e6 worst-case (~1e7-1e8 typical) "
    "members per cluster; past that, report mean-distance-per-member "
    "or widen the inertia aggregate to DECIMAL(38,0) on both engines. "
    "Reference has no counterpart.",
)
def kmeans_lloyd_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    xu = (
        emb.select(
            "vec_id", F.posexplode("vec").alias("i0", "x")
        )
        .select(
            "vec_id",
            (F.col("i0") + 1).alias("i"),
            _km_q6_int(F.col("x")).alias("xu"),
        )
        # PERSIST: |vectors| x dims exploded unit-coordinate frame —
        # the ONE fact-sized cache (every iteration's distance join
        # and both centroid recomputes read it; re-exploding the raw
        # table 4x costs more than the cache); session-LRU lifetime.
        # Byte arithmetic at the docstring's 1e9-vector framing:
        # 1e9 vectors x 16 dims x ~24 B/row (vec_id, i, xu) ~ 384 GB —
        # ~0.4 GB/executor across a 1000-executor cluster, comfortably
        # in memory; at higher dims (1e9 x 768 ~ 18 TB) switch this
        # site to StorageLevel.DISK_ONLY (MEMORY_AND_DISK already
        # spills overflow; DISK_ONLY frees the unified-memory region
        # for the shuffle) — the 4 sequential scans stay linear.
        .persist()
    )

    def assign(cent):
        # broadcast side: the k x dims centroid frame (bounded by the
        # fixed cluster count, never by data scale)
        j = xu.join(F.broadcast(cent), "i")
        diff = F.col("xu") - F.col("cu")
        d = j.groupBy("vec_id", "cluster_id").agg(
            F.sum(diff * diff).cast("long").alias("dist_u")
        )
        w = Window.partitionBy("vec_id").orderBy("dist_u", "cluster_id")
        return (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cluster_id", "dist_u")
        )

    def recompute(assigned):
        # shuffle_hash on the node-sized assignment side: sort-merge
        # would re-sort the |vectors x dims| coordinate table per
        # iteration (the pagerank lesson); neither side broadcasts at
        # 1e9-vector scale
        return (
            assigned.select("vec_id", "cluster_id")
            .hint("shuffle_hash")
            .join(xu, "vec_id")
            .groupBy("cluster_id", "i")
            .agg(
                F.sum("xu").alias("s"), F.count("*").alias("n")
            )
            .select(
                "cluster_id",
                "i",
                F.expr(
                    "CAST(CAST(sign(s) AS BIGINT)"
                    " * ((2 * abs(s) + n) div (2 * n)) AS BIGINT)"
                ).alias("cu"),
            )
        )

    c0 = xu.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cluster_id"), "i", F.col("xu").alias("cu")
    )
    a1 = assign(c0)
    c1 = recompute(a1)
    a2 = assign(c1)
    c2 = recompute(a2)
    members = a2.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum("dist_u").cast("long").alias("inertia_u"),
    )
    # broadcast side: the k-row centroid-checksum dim
    checksums = c2.groupBy("cluster_id").agg(
        F.sum("cu").cast("long").alias("centroid_checksum")
    )
    return members.join(F.broadcast(checksums), "cluster_id")
