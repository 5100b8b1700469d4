"""Similarity search over the embeddings table (vec_id, embedding float[64], label).

Brute-force cosine top-k is the correctness baseline; sign-random-projection
LSH bucketing is the scale path (bucket join instead of the full cross
product — at 10^9 vectors the cross join is impossible, the bucket join is
O(vectors × bucket collision rate)).

Float math parity with the DuckDB oracle: embeddings are float32 on disk;
both engines cast to double BEFORE any arithmetic, and every emitted score
is rounded to 6 dp (accumulation-order differences are ~1e-15, far below
the rounding grain). Hyperplanes are md5-derived pseudo-random weights so
the oracle reproduces them exactly.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _load_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return df.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
        "label",
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cos(a, b) -> "F.Column":
    """Cosine similarity rounded to 6 dp — the ONE definition every query
    and the engine-parity contract share (the rounding grain is
    load-bearing: it is what absorbs accumulation-order differences
    between Spark and DuckDB)."""
    return F.round(_dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b))), 6)


N_QUERIES = 10   # vec_id < 10 are the query vectors
TOP_K = 5
COSINE_THRESHOLD = 0.45  # near-dup threshold (synthetic embeddings are
# near-orthogonal — max pairwise cosine ≈0.6 — so 0.45 marks the tail)


def q_ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for the query vectors. The cross join
    is broadcast (queries are tiny); ordering ties broken by neighbor id
    so ranks are engine-independent."""
    emb = _load_emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    pairs = F.broadcast(q).crossJoin(
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("n_emb"))
    ).where(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        _cos(F.col("q_emb"), F.col("n_emb")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


ORACLE_ANN_TOPK = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
pairs AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         round(list_sum(list_transform(list_zip(q.emb, n.emb), x -> x[1] * x[2]))
               / (sqrt(list_sum(list_transform(q.emb, x -> x * x)))
                * sqrt(list_sum(list_transform(n.emb, x -> x * x)))),
         6) AS cosine
  FROM e q, e n
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> n.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM pairs)
SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= {TOP_K}
"""


#: embeddings are 64-d at every sf (asserted in tests); the oracle needs the
#: constant because DuckDB 1.0 cannot lateral-join generate_series on len(emb)
EMB_DIM = 64


def _srp_weights(n_planes: int) -> list:
    """n_planes × EMB_DIM hyperplane weights, computed driver-side:
    w(j, d) = ((md5int(f"{j},{d}") % 2001) - 1000) / 1000 ∈ [-1, 1].
    Deterministic (md5), so the DuckDB oracle reproduces them exactly and
    Spark can embed them as LITERAL arrays — the bucket becomes a pure
    projection (no posexplode row amplification, no shuffle at all)."""
    return [
        [
            ((int(hashlib.md5(f"{j},{d}".encode()).hexdigest()[:15], 16) % 2001)
             - 1000) / 1000.0
            for d in range(EMB_DIM)
        ]
        for j in range(n_planes)
    ]


def _sign_col(emb_col, weight_row) -> "F.Column":
    """sign(emb · w) ≥ 0 as a boolean codegen expression."""
    warr = F.array(*[F.lit(v) for v in weight_row])
    s = F.round(
        F.aggregate(
            F.zip_with(emb_col, warr, lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        6,
    )
    return s >= 0


def srp_bucket_col(emb_col, weights) -> "F.Column":
    """Sign-random-projection bucket of an embedding column (one bit per
    weight row), as a single whole-stage-codegen expression over literal
    weight arrays. The banded near-dup path passes one band's slice of
    ``_srp_weights`` per call."""
    acc = F.lit(0)
    for j, row in enumerate(weights):
        acc = acc + F.when(_sign_col(emb_col, row), F.lit(1 << j)).otherwise(F.lit(0))
    return acc.cast("int")


def neardup_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs exact near-dup — O(n²) crossJoin, TEST ORACLE ONLY (not a
    driver query): verifies the bucketed path's precision/recall in
    tests/test_similarity.py. Never run this shape at scale."""
    emb = _load_emb(spark, sf_dir)
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"))
    pairs = a.crossJoin(b).where(F.col("vec_a") < F.col("vec_b"))
    scored = pairs.select(
        "vec_a", "vec_b", _cos(F.col("ea"), F.col("eb")).alias("cosine")
    )
    return scored.where(F.col("cosine") >= COSINE_THRESHOLD)


#: banded SRP-LSH for near-dup candidate generation: BANDS bands of
#: BAND_BITS planes each (plane j = band*BAND_BITS + bit). A pair is a
#: candidate iff ALL signs agree in ≥1 band. Recall/candidate-rate dial:
#: per band the random-collision rate on near-orthogonal data is 2^-bits,
#: so candidate pair volume is Θ(n²/2^bits) per band — BAND_BITS MUST grow
#: with the corpus (~2·log2(n) bits to keep expected bucket sizes O(1));
#: the 4×4 defaults fit the TEST corpus whose near-dups sit at cosine
#: 0.45–0.6, and the driver oracle is generated for these defaults. More
#: bands → higher recall at proportionally more candidate volume.
NEARDUP_BANDS = 4
NEARDUP_BAND_BITS = 4


def q_neardup_cosine(
    spark: SparkSession,
    sf_dir: str,
    bands: int = NEARDUP_BANDS,
    band_bits: int = NEARDUP_BAND_BITS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, SCALE SHAPE (round-1 VERDICT
    perf item): banded SRP-LSH equi-join generates candidate id pairs,
    exact cosine verifies them after re-joining the embeddings — no
    unguarded cartesian, and the candidate join/dedup exchanges carry TWO
    LONGS per row, not 2×64 doubles (r3 review fix). Precision is exact
    (every emitted pair is verified); recall is the LSH union over bands.
    The oracle runs the SAME algorithm at the default 4×4 so the check is
    exact; callers at larger corpora MUST raise ``band_bits`` (see the
    constant's sizing note — 4 bits = 16 buckets is a test-scale setting,
    not a 10^9-vector one). ``neardup_cosine_bruteforce`` survives as the
    precision/recall test oracle."""
    emb = _load_emb(spark, sf_dir)
    ws = _srp_weights(bands * band_bits)
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            srp_bucket_col(
                F.col("emb"), ws[band * band_bits:(band + 1) * band_bits]
            ).alias("bucket"),
        )
        for band in range(bands)
    ]
    tagged = emb.select(
        "vec_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("vec_id", "bb.band", "bb.bucket")
    a = tagged.select("band", "bucket", F.col("vec_id").alias("vec_a"))
    b = tagged.select("band", "bucket", F.col("vec_id").alias("vec_b"))
    cand_ids = (
        a.join(b, ["band", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])  # pair may collide in >1 band
    )
    # verify stage: embeddings re-attached to the (small) surviving pair
    # set via two equi-joins — the wide arrays never ride the candidate
    # exchanges above
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"))
    scored = (
        cand_ids.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a", "vec_b", _cos(F.col("ea"), F.col("eb")).alias("cosine")
        )
    )
    return scored.where(F.col("cosine") >= COSINE_THRESHOLD)


#: DuckDB CTE of the banded near-dup oracle: per-plane projection signs
#: (planes 0..n-1) — identical math to _srp_weights/_sign_col.
def _sql_proj(n_planes: int) -> str:
    return f"""
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
proj AS (
  SELECT vec_id, j,
         round(list_sum(list_transform(
             list_zip(emb, generate_series(0, {EMB_DIM - 1})),
             x -> x[1] * ((((('0x' || substr(md5(j || ',' || x[2]), 1, 15))::bigint % 2001) - 1000)::DOUBLE) / 1000.0)
         )), 6) AS s
  FROM e, generate_series(0, {n_planes - 1}) AS gj(j))
"""


ORACLE_NEARDUP = f"""
WITH {_sql_proj(NEARDUP_BANDS * NEARDUP_BAND_BITS)},
bb AS (
  SELECT vec_id, (j // {NEARDUP_BAND_BITS})::int AS band,
         (sum(CASE WHEN s >= 0 THEN (1 << (j % {NEARDUP_BAND_BITS})) ELSE 0 END))::int AS bucket
  FROM proj GROUP BY vec_id, (j // {NEARDUP_BAND_BITS})::int),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bb a JOIN bb b USING (band, bucket) WHERE a.vec_id < b.vec_id),
scored AS (
  SELECT c.vec_a, c.vec_b,
         round(list_sum(list_transform(list_zip(ea.emb, eb.emb), x -> x[1] * x[2]))
               / (sqrt(list_sum(list_transform(ea.emb, x -> x * x)))
                * sqrt(list_sum(list_transform(eb.emb, x -> x * x)))),
         6) AS cosine
  FROM cand c JOIN e ea ON c.vec_a = ea.vec_id JOIN e eb ON c.vec_b = eb.vec_id)
SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= {COSINE_THRESHOLD}
"""


# --- SemDeDup: semantic dedup inside embedding clusters -----------------------

#: intra-cluster cosine above which two documents are semantic duplicates.
#: Calibrated on the synthetic corpus: intra-cell pairs peak at ~0.49 with
#: p99 ≈ 0.32, so 0.35 marks the genuine near-dup tail (~64 of ~15.6k
#: intra-cell pairs at sf0.01) while leaving most of every cluster intact.
SEMDEDUP_TAU = 0.35

#: the coarse quantizer is IVF_K fixed "pseudo-centroids" (the embeddings of
#: vec_ids CENTROID_LO..CENTROID_LO+IVF_K-1 — deterministic, no k-means
#: training needed for a correctness-checkable plan shape).
IVF_K = 8
CENTROID_LO = 10  # disjoint from the query ids (vec_id < N_QUERIES)


def _ivf_cells(emb: DataFrame) -> DataFrame:
    """(vec_id, emb, cell, cc): every vector assigned to its argmax-cosine
    pseudo-centroid (the IVF coarse quantizer over the IVF_K fixed
    centroids), with ``cc`` = rounded cosine to the assigned centroid.
    Broadcast centroids → K-row amplification then a per-vector window
    reduce; never a cross product."""
    cents = F.broadcast(
        emb.where(
            (F.col("vec_id") >= CENTROID_LO)
            & (F.col("vec_id") < CENTROID_LO + IVF_K)
        ).select(F.col("vec_id").alias("cent_id"), F.col("emb").alias("c_emb"))
    )
    scored = emb.crossJoin(cents).select(
        "vec_id", "emb", "cent_id", _cos(F.col("emb"), F.col("c_emb")).alias("cc")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cc").desc(), F.col("cent_id").asc()
    )
    return (
        scored.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("vec_id", "emb", F.col("cent_id").alias("cell"), "cc")
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by embedding — cluster the corpus with a coarse
    quantizer, then inside each cluster drop documents whose cosine to
    another cluster member exceeds ``SEMDEDUP_TAU``, keeping the member
    FARTHEST from the centroid (the paper's keep-low-centroid-similarity
    rule, which preserved the most diversity in their ablations).

    Drop rule (deterministic, one-pass): member b is dropped iff some
    same-cell member a has cos(a,b) ≥ τ and higher keep-priority, where
    priority orders by (cc asc, vec_id asc). This is the parallel
    relaxation of the paper's sequential greedy: no two KEPT members are
    ever τ-close (any such pair marks its lower-priority side dropped),
    and the priority-minimum of every cluster always survives; it may
    drop slightly MORE than sequential greedy when a dominator is itself
    dropped — conservative in the right direction for dedup, and
    order-independent so both engines compute it bit-identically.

    Scale shape: cell assignment is a broadcast probe (O(K) per vector);
    the pair join is an equi-join on ``cell``, so its cost is
    Σ|cell|² — the paper's own cost model, controlled by choosing
    K ∝ corpus size so cells stay O(1) (their LAION run uses 50k
    clusters). The verdict aggregation exchanges carry only (id, id)
    longs; embeddings ride a shuffle once (into the cell join).
    Reference analog: AnkiOCR dedups at the exact-text level
    (collection.find_notes in src/anki_ocr/ocr.py:55-60 scopes one batch);
    this is the embedding-space generalization a 10^12-doc corpus needs."""
    emb = _load_emb(spark, sf_dir)
    # the cell table feeds THREE consumers (both pair-join sides + the
    # verdict join); the branches differ by alias so neither Catalyst CSE
    # nor AQE stage reuse dedupes them — materialize the assignment once
    # (localCheckpoint, the dedup_cc_clusters pattern) instead of running
    # the broadcast-quantizer window three times. Production stages this
    # artifact to a table anyway (the cluster_keeper_staged pattern).
    cells = _ivf_cells(emb).localCheckpoint()
    a = cells.select(
        F.col("cell"),
        F.col("vec_id").alias("va"),
        F.col("emb").alias("ea"),
        F.col("cc").alias("cca"),
    )
    b = cells.select(
        F.col("cell"),
        F.col("vec_id").alias("vb"),
        F.col("emb").alias("eb"),
        F.col("cc").alias("ccb"),
    )
    dup_pairs = (
        a.join(b, "cell")
        .where(F.col("va") < F.col("vb"))
        .select(
            "va", "vb", "cca", "ccb",
            _cos(F.col("ea"), F.col("eb")).alias("cos"),
        )
        .where(F.col("cos") >= SEMDEDUP_TAU)
    )
    # per τ-close pair, the LOWER-priority side is dropped (keep-farthest)
    dropped = dup_pairs.select(
        F.when(
            (F.col("cca") < F.col("ccb"))
            | ((F.col("cca") == F.col("ccb")) & (F.col("va") < F.col("vb"))),
            F.col("vb"),
        )
        .otherwise(F.col("va"))
        .alias("vec_id")
    ).distinct()
    return (
        cells.join(
            dropped.withColumn("is_dup", F.lit(True)), "vec_id", "left"
        )
        .select(
            "vec_id",
            "cell",
            "cc",
            F.coalesce("is_dup", F.lit(False)).alias("dropped"),
        )
    )


ORACLE_SEMDEDUP = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
cents AS (
  SELECT vec_id AS cent_id, emb AS c_emb FROM e
  WHERE vec_id >= {CENTROID_LO} AND vec_id < {CENTROID_LO + IVF_K}),
scored AS (
  SELECT e.vec_id, e.emb, c.cent_id,
         round(list_sum(list_transform(list_zip(e.emb, c.c_emb), x -> x[1] * x[2]))
               / (sqrt(list_sum(list_transform(e.emb, x -> x * x)))
                * sqrt(list_sum(list_transform(c.c_emb, x -> x * x)))),
         6) AS cc
  FROM e, cents c),
cells AS (
  SELECT vec_id, emb, cent_id AS cell, cc FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cc DESC, cent_id ASC) AS r
    FROM scored) WHERE r = 1),
dup_pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, a.cc AS cca, b.cc AS ccb,
         round(list_sum(list_transform(list_zip(a.emb, b.emb), x -> x[1] * x[2]))
               / (sqrt(list_sum(list_transform(a.emb, x -> x * x)))
                * sqrt(list_sum(list_transform(b.emb, x -> x * x)))),
         6) AS cos
  FROM cells a JOIN cells b USING (cell)
  WHERE a.vec_id < b.vec_id),
dropped AS (
  SELECT DISTINCT CASE WHEN cca < ccb OR (cca = ccb AND va < vb)
                       THEN vb ELSE va END AS vec_id
  FROM dup_pairs WHERE cos >= {SEMDEDUP_TAU})
SELECT c.vec_id, c.cell, c.cc,
       (d.vec_id IS NOT NULL) AS dropped
FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
"""


QUERIES = {
    "ann_topk_bruteforce": q_ann_topk_bruteforce,
    "neardup_cosine": q_neardup_cosine,
    "semdedup": q_semdedup,
}

ORACLE_SQL = {
    "ann_topk_bruteforce": ORACLE_ANN_TOPK,
    "neardup_cosine": ORACLE_NEARDUP,
    "semdedup": ORACLE_SEMDEDUP,
}
