"""Corpus-curation operators a 100-TB training-data pipeline runs after
extraction: PII redaction, Gopher-style repetition filtering, and TF-IDF
salient-term tagging. All JVM-side expressions (whole-stage codegen — no
Python on the hot path) with exact DuckDB oracles.

Reference analog: AnkiOCR post-processes every OCR result before
writeback (text cleanup in ocr.py:141-149, per-note field rewrite in
api.py:252-268); these operators are that rewrite stage generalized to
the curation passes C4/Gopher-class corpora apply between extraction and
training-set selection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ankiocr_spark.ops import load

#: PII patterns — intersection of Java-regex and RE2 syntax (character
#: classes + bounded quantifiers only) so Spark and the DuckDB oracle
#: compile the SAME automaton. Kept deliberately simple: the operator
#: contract is the redaction PLUMBING (codegen regex over the corpus,
#: per-class counters); production swaps in audited pattern packs.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

#: deterministic PII-bearing slice: the fixture corpus contains no PII,
#: so (exactly like dedup_exact's re-crawl slice) every 5th doc gets a
#: synthetic contact line appended in-flight — the redactor must find it.
PII_MOD = 5
PII_SUFFIX_FMT = " contact u%d@example.org or 10.0.%d.%d now"

#: Gopher-style repetition gates (calibrated so each bites a real slice
#: of the fixture corpus: top-bigram share p90 ≈ 0.069, median ≈ 0.033;
#: distinct-token ratio p10 ≈ 0.32, median ≈ 0.46)
MAX_TOP_BIGRAM_SHARE = 0.05
MIN_DISTINCT_RATIO = 0.35

#: salient terms kept per document by the TF-IDF tagger
TFIDF_TOP_K = 3


def _tokenized_docs(
    spark: SparkSession, sf_dir: str, extra: tuple = ()
) -> DataFrame:
    """(doc_id[, *extra], toks): whitespace-tokenized docs with ≥ 2
    tokens — the shared input of the bigram-based gates. The split
    delimiter and the min-token cutoff are load-bearing for BOTH oracles
    (repetition, lm_perplexity); one definition keeps them in sync."""
    return (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", *extra, F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 2)
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails and IPv4 literals, counting each class per doc.

    Scale shape: ZERO shuffles — regexp_extract_all/regexp_replace are
    codegen'd JVM expressions fused into the scan projection, so the
    pass streams at I/O speed; the per-class counts are the audit
    columns a compliance report aggregates later. Email is redacted
    before IP so an address's host part can't be half-rewritten."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    pii_text = F.when(
        F.col("doc_id") % PII_MOD == 0,
        F.concat(
            F.col("text"),
            F.format_string(
                PII_SUFFIX_FMT,
                F.col("doc_id"),
                F.col("doc_id") % 256,
                (F.col("doc_id") * 7) % 256,
            ),
        ),
    ).otherwise(F.col("text"))
    n_emails = F.size(F.regexp_extract_all(pii_text, F.lit(EMAIL_RE), F.lit(0)))
    n_ips = F.size(F.regexp_extract_all(pii_text, F.lit(IPV4_RE), F.lit(0)))
    redacted = F.regexp_replace(
        F.regexp_replace(pii_text, EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
    )
    return docs.select(
        "doc_id",
        redacted.alias("redacted"),
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
    )


ORACLE_PII_REDACT = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % {PII_MOD} = 0
              THEN text || printf('{PII_SUFFIX_FMT}',
                                  doc_id, doc_id % 256, (doc_id * 7) % 256)
              ELSE text END AS t
  FROM documents WHERE text IS NOT NULL)
SELECT doc_id,
       regexp_replace(regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
                      '{IPV4_RE}', '<IP>', 'g') AS redacted,
       len(regexp_extract_all(t, '{EMAIL_RE}'))::BIGINT AS n_emails,
       len(regexp_extract_all(t, '{IPV4_RE}'))::BIGINT AS n_ips
FROM aug
"""


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate: drop docs whose most-frequent bigram
    dominates (boilerplate loops) or whose distinct-token ratio is low
    (keyword stuffing). Emits the measurements plus the keep verdict so
    downstream selection can re-threshold without recompute.

    Scale shape: the bigram build is a row-local array transform; the
    explode feeds ONE hash exchange on (doc_id, bigram) with map-side
    partial counts, then the per-doc fold groups by doc_id — the
    row-local columns (n_tokens, distinct_ratio) ride that second
    groupBy as functionally-dependent keys instead of rejoining the
    corpus (the sizes-ride-the-postings shape from dedup)."""
    docs = _tokenized_docs(spark, sf_dir)
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.concat_ws(" ", F.get("toks", i), F.get("toks", i + 1)),
    )
    ratio = F.round(F.size(F.array_distinct("toks")) / F.size("toks"), 6)
    exploded = docs.select(
        "doc_id",
        ratio.alias("distinct_ratio"),
        F.explode(bigrams).alias("bigram"),
    )
    counts = exploded.groupBy("doc_id", "distinct_ratio", "bigram").agg(
        F.count("*").alias("c")
    )
    share = F.round(F.max("c") / F.sum("c"), 6)
    per_doc = counts.groupBy("doc_id", "distinct_ratio").agg(
        share.alias("top_bigram_share")
    )
    return per_doc.select(
        "doc_id",
        "top_bigram_share",
        "distinct_ratio",
        (
            (F.col("top_bigram_share") <= MAX_TOP_BIGRAM_SHARE)
            & (F.col("distinct_ratio") >= MIN_DISTINCT_RATIO)
        ).alias("keep"),
    )


ORACLE_REPETITION = f"""
WITH docs AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
  WHERE text IS NOT NULL AND len(str_split(text, ' ')) >= 2),
bg AS (
  SELECT doc_id,
         round(len(list_distinct(toks)) / len(toks)::DOUBLE, 6)
           AS distinct_ratio,
         unnest(list_transform(range(len(toks) - 1),
                               i -> toks[i + 1] || ' ' || toks[i + 2]))
           AS bigram
  FROM docs),
cnt AS (
  SELECT doc_id, distinct_ratio, bigram, count(*) AS c
  FROM bg GROUP BY 1, 2, 3),
per_doc AS (
  SELECT doc_id, distinct_ratio,
         round(max(c) / sum(c)::DOUBLE, 6) AS top_bigram_share
  FROM cnt GROUP BY 1, 2)
SELECT doc_id, top_bigram_share, distinct_ratio,
       (top_bigram_share <= {MAX_TOP_BIGRAM_SHARE}
        AND distinct_ratio >= {MIN_DISTINCT_RATIO}) AS keep
FROM per_doc
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOP_K} salient terms per doc by TF-IDF — the tagging
    pass behind topical sampling and mixture balancing.

    Scale shape — ONE corpus scan, one lineage: term frequencies are a
    hash exchange on (doc_id, term) with map-side partials, then
    document frequency rides the tf rows as a window over `term` — NOT
    a separate groupBy branch joined back, because DataFrames have no
    cross-branch common-subexpression reuse, so the branch shape
    re-scans the corpus and re-runs the explode per branch (ReadSchema×2
    in the audit — the exact shape measured and rejected for Jaccard in
    r3). The only other exchange is the per-doc top-k window. N_docs is
    a parquet-metadata count (rowgroup stats, no scan). Ties rank
    deterministically (score desc, term asc). Float caveat (ADVICE r4):
    JVM Math.log and DuckDB's libm ln() are each only ~1-ulp accurate
    and MAY differ, so the round(·,6) emitted values and rank
    tie-breaks are robust only while no score sits within an ulp of a
    rounding/rank boundary — true for every shipped fixture, checked by
    the parity sweep each round. The engine-exact alternative is the
    integer-quantization discipline dsir_weight/token_entropy use
    (quantize each log term to micro-nats BEFORE aggregation)."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    n_docs = docs.count()  # metadata-only action, same class as pagerank's
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    scored = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("term"))
    ).select(
        "doc_id",
        "term",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("_s"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("_s").desc(), F.col("term"))
    return (
        scored.select(
            "doc_id", "term", F.row_number().over(w).alias("rank"), "_s"
        )
        .where(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "rank", F.round("_s", 6).alias("tfidf"))
    )


ORACLE_TFIDF = f"""
WITH tf AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS term
  FROM documents WHERE text IS NOT NULL),
tfc AS (
  SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
dfc AS (
  SELECT term, count(*) AS df FROM tfc GROUP BY 1),
n AS (
  SELECT count(*) AS n_docs FROM documents WHERE text IS NOT NULL),
scored AS (
  SELECT doc_id, term, tf * ln(n_docs / df::DOUBLE) AS s
  FROM tfc JOIN dfc USING (term), n),
ranked AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, term)
           AS rank,
         s
  FROM scored)
SELECT doc_id, term, rank::INT AS rank, round(s, 6) AS tfidf
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


# ---------------------------------------------------------------------------
# Domain blocklist filter — the URL-level gate before any content work
# ---------------------------------------------------------------------------

#: blocked hosts — tiny here; production blocklists run 10^6+ entries,
#: which is why the implementation joins a broadcast relation instead of
#: inlining an isin() literal into the plan.
BLOCKED_HOSTS = ("h3.example.org", "h7.example.org")

#: URL pattern rule (shared Java-regex/RE2 subset, like the PII patterns)
BLOCK_PATH_RE = "/doc/[0-9]*13$"


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level blocklist gate: flag pages on blocked hosts or matching
    a banned URL pattern — the cheapest curation pass, run FIRST because
    it needs no content, only the url column. Hosts are synthesized
    deterministically (doc_id % 11 shards the corpus over 11 hosts) so
    both rules bite a real slice.

    Scale shape: the host verdict is a BROADCAST left join against the
    blocklist relation (a 10^6-entry production blocklist broadcasts in
    MBs; the corpus side never shuffles), and the pattern verdict is a
    codegen rlike fused into the same projection — zero exchanges
    total. Emits the verdicts plus `kept` so downstream re-thresholds
    without recompute (the repetition_filter contract)."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 11).cast("string"), F.lit(".example.org")
    )
    url = F.concat(
        F.lit("https://"), host, F.lit("/doc/"), F.col("doc_id").cast("string")
    )
    pages = docs.select("doc_id", host.alias("host"), url.alias("url"))
    blocklist = spark.createDataFrame(
        [(h,) for h in BLOCKED_HOSTS], "host string"
    ).withColumn("blocked_host", F.lit(True))
    joined = pages.join(F.broadcast(blocklist), "host", "left")
    blocked_host = F.coalesce("blocked_host", F.lit(False))
    blocked_path = F.col("url").rlike(BLOCK_PATH_RE)
    return joined.select(
        "doc_id",
        "url",
        "host",
        blocked_host.alias("blocked_host"),
        blocked_path.alias("blocked_path"),
        (~(blocked_host | blocked_path)).alias("kept"),
    )


ORACLE_BLOCKLIST = f"""
WITH pages AS (
  SELECT doc_id,
         'h' || (doc_id % 11) || '.example.org' AS host,
         'https://h' || (doc_id % 11) || '.example.org/doc/' || doc_id AS url
  FROM documents WHERE text IS NOT NULL),
bl(host) AS (VALUES {", ".join(f"('{h}')" for h in BLOCKED_HOSTS)}),
v AS (
  SELECT doc_id, url, host,
         host IN (SELECT host FROM bl) AS blocked_host,
         regexp_matches(url, '{BLOCK_PATH_RE}') AS blocked_path
  FROM pages)
SELECT doc_id, url, host, blocked_host, blocked_path,
       NOT (blocked_host OR blocked_path) AS kept
FROM v
"""


# ---------------------------------------------------------------------------
# Domain-mixture sampling — the data-mixing step before training
# ---------------------------------------------------------------------------

#: target language mixture (sums to 1). fr is deliberately oversubscribed
#: relative to its corpus share (≤0.17 at every shipped sf) so the
#: min(1, ·) rate cap carries rows.
TARGET_MIX = {"en": 0.25, "zh": 0.15, "es": 0.15, "de": 0.15, "fr": 0.30}

#: fraction of the IN-MIX corpus (docs whose lang has a target weight)
#: the mixed sample may total — out-of-mix languages are dropped before
#: the counts, so they contribute to neither the budget nor the rates
MIX_BUDGET_FRAC = 0.6

#: Knuth multiplicative hash → uniform [0,1) — pure int64 arithmetic so
#: Spark and DuckDB produce bit-identical doubles (the production swap-in
#: is xxhash64(url), which DuckDB cannot replicate). Dividing by 2^32 is
#: exact in IEEE double. doc_id is REDUCED mod 2^31 BEFORE the multiply
#: (ADVICE r4): the raw product doc_id·MULT overflows signed int64 at
#: doc_id ≈ 3.5e9, and with ANSI off Spark wraps negative — making
#: ``u < rate`` vacuously true, i.e. silently sampling EVERY doc beyond
#: that id. (2^31−1)·MULT ≈ 5.7e18 stays inside int64 in both engines,
#: values are unchanged for doc_id < 2^31, and the draw's period (2^31
#: ids) is immaterial for a uniformity device; the xxhash64(url) swap-in
#: has no such limit.
_MIX_MULT = 2654435761
_MIX_MOD = 4294967296
_MIX_REDUCE = 2147483648  # 2^31 — keeps (doc_id % R) * MULT < 2^63


def sql_mix_draw(col: str) -> str:
    """DuckDB twin of `mix_draw` over id column *col* — the ONE copy every
    oracle interpolates (domain_mix_sample, lm_perplexity's sample gate,
    the curation e2e), so a Spark-side constant change cannot silently
    outrun a hand-mirrored SQL fragment (r5 review)."""
    return (
        f"((((({col}) % {_MIX_REDUCE} + {_MIX_REDUCE}) % {_MIX_REDUCE})"
        f" * {_MIX_MULT}) % {_MIX_MOD})::DOUBLE / {float(_MIX_MOD)}::DOUBLE"
    )


def mix_draw(doc_id_col):
    """Deterministic uniform draw in [0, 1) from a document id — overflow-
    safe for the full bigint id range (see _MIX_REDUCE note above), and
    sign-safe: ``pmod`` (not ``%``, which keeps the dividend's sign in
    both engines) guarantees a NON-NEGATIVE reduced id, so a negative
    doc_id cannot produce u < 0 and make ``u < rate`` vacuously true —
    the same silent-oversampling mode the overflow fix closed for large
    positive ids (r5 review find). The oracle mirrors pmod as
    ``(x % R + R) % R``; values are unchanged for non-negative ids."""
    return (F.pmod(doc_id_col, _MIX_REDUCE) * _MIX_MULT % _MIX_MOD) / F.lit(
        float(_MIX_MOD)
    )


def q_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling: compute a per-language acceptance
    rate from the corpus's own language counts and a target mixture, then
    keep each doc iff its hash-uniform draw clears the rate — the
    data-mixing pass that reweights a web corpus toward a training
    mixture (upsampling capped at 1: selection cannot mint documents).

    Scale shape: ONE tiny aggregate (per-lang counts — 5 rows) extended
    with the corpus total by a window over the 5-row relation, then
    BROADCAST-joined back onto the corpus; the per-doc draw and verdict
    are codegen arithmetic in the same projection. The corpus itself
    never shuffles, and no driver collect touches the data path.

    Languages OUTSIDE the target mixture have weight 0 by definition and
    are dropped up front (filter pushed into the scan). Without the
    explicit filter a NULL map-lookup would flow into F.least and win as
    rate 1.0 — silently upsampling exactly the languages the mixture
    excludes (review find; latent because every shipped fixture carries
    only the five target langs)."""
    docs = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("lang").isin(list(TARGET_MIX))
    )
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    counts = counts.withColumn(
        "n_total", F.sum("n_lang").over(Window.partitionBy())
    )
    target = F.create_map(
        *[F.lit(x) for kv in TARGET_MIX.items() for x in kv]
    )
    rate = F.least(
        F.lit(1.0),
        target[F.col("lang")]
        * (F.lit(MIX_BUDGET_FRAC) * F.col("n_total"))
        / F.col("n_lang"),
    )
    u = mix_draw(F.col("doc_id"))
    return docs.join(F.broadcast(counts), "lang").select(
        "doc_id",
        "lang",
        F.round(rate, 6).alias("rate"),
        (u < rate).alias("sampled"),
    )


#: every fractional literal below is cast ::DOUBLE — DuckDB parses bare
#: decimal literals as DECIMAL and computes fixed-point, which would
#: diverge from Spark's IEEE doubles in the last bits.
ORACLE_MIX = f"""
WITH d AS (SELECT doc_id, lang FROM documents
           WHERE text IS NOT NULL
             AND lang IN ({", ".join(f"'{k}'" for k in TARGET_MIX)})),
counts AS (
  SELECT lang, count(*) AS n_lang, sum(count(*)) OVER () AS n_total
  FROM d GROUP BY lang),
tgt(lang, w) AS (VALUES {", ".join(f"('{k}', {v}::DOUBLE)" for k, v in TARGET_MIX.items())}),
rated AS (
  SELECT d.doc_id, d.lang,
         least(1.0::DOUBLE,
               w * ({MIX_BUDGET_FRAC}::DOUBLE * n_total) / n_lang) AS rate
  FROM d JOIN counts USING (lang) JOIN tgt USING (lang))
SELECT doc_id, lang, round(rate, 6) AS rate,
       {sql_mix_draw("doc_id")}
         < rate AS sampled
FROM rated
"""


# ---------------------------------------------------------------------------
# LM-perplexity quality filter — the CCNet-style model-based gate
# ---------------------------------------------------------------------------

#: docs whose mean bigram log-probability clears this keep their gate.
#: Calibrated on the fixture corpus so BOTH outcomes carry rows at every
#: shipped sf (scores cluster near -3.4: keep ≈ 68% at sf0.001/0.01,
#: ≈ 45% at sf0.1).
LM_LOGPROB_FLOOR = -3.4


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality gate: score every document by the mean
    log-probability of its token bigrams under an add-one-smoothed
    bigram LM, and keep docs above a floor — the CCNet/RedPajama
    perplexity-filter pass with the n-gram LM trained IN-ENGINE (here on
    the corpus itself so the whole thing stays closed-form; production
    trains on a reference corpus and the score join is identical).

    P(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V),  V = |vocab|.

    Scale shape — the tfidf lesson applied twice: the SCORING path scans
    and explodes the corpus ONCE; the bigram count c(w1 w2) and the
    context count c(w1 ·) both ride the exploded rows as windows (over
    `bigram` and over `w1`), NOT as separate groupBy branches joined
    back (no cross-branch CSE → each count branch would re-scan and
    re-explode the corpus). V is a corpus-wide SCALAR and does cost a
    second branch — but a column-pruned scan + countDistinct, broadcast
    back by a cross join (one row), not a per-row join. Then one
    groupBy(doc_id) folds the per-bigram log-probs to the doc mean.
    Data-path exchanges: bigram, w1, doc — all O(corpus bigrams), no
    quadratic term, no driver collect.

    The gate compares the ROUNDED mean (the emitted column), not the raw
    avg: JVM log + partition-ordered summation vs DuckDB libm + its own
    order can differ by ulps, and the floor is deliberately calibrated
    inside the score cluster — a raw compare would flake the oracle
    gate for a doc landing within FP noise of the floor (review find;
    same rounding discipline as q_repetition_filter's thresholds)."""
    return _lm_doc_scores(spark, sf_dir).select(
        "doc_id",
        "avg_logprob",
        (F.col("avg_logprob") >= LM_LOGPROB_FLOOR).alias("keep"),
    )


def _lm_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, avg_logprob): the bigram-LM document scores shared
    by q_lm_perplexity (floor gate) and q_perplexity_buckets (tercile
    partitioner) — one definition so the bucketer cannot drift from the
    gate. avg_logprob is rounded to 6dp, which both engines reproduce
    bit-identically (multi-round lm_perplexity precedent)."""
    docs = _tokenized_docs(spark, sf_dir, extra=("lang",))
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.concat_ws(" ", F.get("toks", i), F.get("toks", i + 1)),
    )
    exploded = docs.select("doc_id", "lang", F.explode(bigrams).alias("bigram"))
    vocab = (
        docs.select(F.explode("toks").alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    w1 = F.split_part("bigram", F.lit(" "), F.lit(1))
    scored = (
        exploded.withColumn("c12", F.count("*").over(Window.partitionBy("bigram")))
        .withColumn("w1", w1)
        .withColumn("c1", F.count("*").over(Window.partitionBy("w1")))
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "lang",
            F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v"))).alias("lp"),
        )
    )
    return scored.groupBy("doc_id", "lang").agg(
        F.round(F.avg("lp"), 6).alias("avg_logprob")
    )


ORACLE_LM = f"""
WITH docs AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
  WHERE text IS NOT NULL AND len(str_split(text, ' ')) >= 2),
v AS (
  SELECT count(DISTINCT tok) AS v
  FROM (SELECT unnest(toks) AS tok FROM docs)),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(len(toks) - 1),
                               i -> toks[i + 1] || ' ' || toks[i + 2]))
           AS bigram
  FROM docs),
counted AS (
  SELECT doc_id, bigram,
         count(*) OVER (PARTITION BY bigram) AS c12,
         count(*) OVER (PARTITION BY str_split(bigram, ' ')[1]) AS c1
  FROM bg),
lp AS (
  SELECT doc_id, ln((c12 + 1) / (c1 + v)::DOUBLE) AS lp
  FROM counted, v)
SELECT doc_id, round(avg(lp), 6) AS avg_logprob,
       round(avg(lp), 6) >= {LM_LOGPROB_FLOOR} AS keep
FROM lp GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# CCNet head/middle/tail perplexity buckets — the curriculum partitioner
# ---------------------------------------------------------------------------

#: deterministic-hash sample rate for fitting the per-language tercile
#: thresholds. CCNet fits its quantile cuts on a sample of the scored
#: corpus, never on a full per-language sort — at 10^12 docs a fixed
#: absolute sample (say 10^6 docs/lang) suffices for 3 quantiles, so the
#: rate shrinks with corpus size; 0.35 keeps every fixture language
#: populated at sf0.001.
PPL_SAMPLE_RATE = 0.35


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail partitioning (Wenzek et al. 2020): split
    each language's documents into perplexity terciles — `head` (most
    fluent third) feeds pretraining directly, `middle` is kept for
    diversity, `tail` is dropped or down-weighted. This is the
    curriculum/quality binning pass that follows the lm_perplexity gate
    in the CCNet pipeline, sharing its scorer (`_lm_doc_scores`).

    Scale shape — thresholds from a SAMPLE, never a per-language sort of
    the corpus: the scored corpus (materialized here via localCheckpoint,
    exactly as CCNet materializes its scored shards — and because the
    sample branch and the bucket branch would otherwise each recompute
    the bigram chain: filter-above-window breaks subtree equality, so
    neither CSE nor AQE stage reuse can dedupe them) is probed by a
    deterministic hash draw (`mix_draw`, overflow-safe for the full
    bigint id range); rank windows run over the SAMPLE partitioned by
    lang (rate-bounded — at production scale the rate is chosen so a
    lang's sample fits one task, and English's whale share is exactly
    why the full-corpus NTILE alternative is a non-starter); the two
    tercile cut scores per language collapse to a langs-sized table,
    BROADCAST back, and the verdict is codegen arithmetic — the corpus
    never shuffles. Tercile positions use integer ceil division
    ((n+2) div 3), and every comparison is between 6dp-rounded doubles
    both engines reproduce bit-identically, so the bucket assignment is
    deterministic cross-engine. A language absent from the sample gets
    bucket 'unsampled' explicitly (NULL thresholds must not silently
    fall through to 'tail').

    Reference analog: AnkiOCR batches notes into fixed-size groups for
    its OCR loop (`ocr.py:75-87`); this is the corpus-curriculum
    generalization every CCNet-style 100 TB pipeline runs."""
    scored = _lm_doc_scores(spark, sf_dir).localCheckpoint()
    samp = scored.where(mix_draw(F.col("doc_id")) < F.lit(PPL_SAMPLE_RATE))
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id").asc()
    )
    ranked = samp.select(
        "lang",
        "avg_logprob",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("lang")).alias("n"),
    )
    thr = ranked.groupBy("lang").agg(
        F.max(
            F.when(F.col("rk") == F.expr("(n + 2) div 3"), F.col("avg_logprob"))
        ).alias("t_head"),
        F.max(
            F.when(
                F.col("rk") == F.expr("(2 * n + 2) div 3"), F.col("avg_logprob")
            )
        ).alias("t_mid"),
    )
    return scored.join(F.broadcast(thr), "lang", "left").select(
        "doc_id",
        "lang",
        "avg_logprob",
        F.when(F.col("t_head").isNull(), F.lit("unsampled"))
        .when(F.col("avg_logprob") >= F.col("t_head"), F.lit("head"))
        .when(F.col("avg_logprob") >= F.col("t_mid"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


ORACLE_PPL_BUCKETS = f"""
WITH docs AS (
  SELECT doc_id, lang, str_split(text, ' ') AS toks FROM documents
  WHERE text IS NOT NULL AND len(str_split(text, ' ')) >= 2),
v AS (
  SELECT count(DISTINCT tok) AS v
  FROM (SELECT unnest(toks) AS tok FROM docs)),
bg AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(len(toks) - 1),
                               i -> toks[i + 1] || ' ' || toks[i + 2]))
           AS bigram
  FROM docs),
counted AS (
  SELECT doc_id, lang, bigram,
         count(*) OVER (PARTITION BY bigram) AS c12,
         count(*) OVER (PARTITION BY str_split(bigram, ' ')[1]) AS c1
  FROM bg),
lp AS (
  SELECT doc_id, lang, ln((c12 + 1) / (c1 + v)::DOUBLE) AS lp
  FROM counted, v),
scored AS (
  SELECT doc_id, lang, round(avg(lp), 6) AS avg_logprob
  FROM lp GROUP BY doc_id, lang),
samp AS (
  SELECT * FROM scored
  WHERE {sql_mix_draw("doc_id")}
        < {PPL_SAMPLE_RATE}::DOUBLE),
ranked AS (
  SELECT lang, avg_logprob,
         row_number() OVER (PARTITION BY lang
                            ORDER BY avg_logprob DESC, doc_id ASC) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM samp),
thr AS (
  SELECT lang,
         max(CASE WHEN rk = (n + 2) // 3 THEN avg_logprob END) AS t_head,
         max(CASE WHEN rk = (2 * n + 2) // 3 THEN avg_logprob END) AS t_mid
  FROM ranked GROUP BY lang)
SELECT doc_id, lang, avg_logprob,
       CASE WHEN t_head IS NULL THEN 'unsampled'
            WHEN avg_logprob >= t_head THEN 'head'
            WHEN avg_logprob >= t_mid THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored LEFT JOIN thr USING (lang)
"""


# ---------------------------------------------------------------------------
# robots-meta crawl-policy gate
# ---------------------------------------------------------------------------

#: deterministic robots-meta slice of the synthesized page fixture (the
#: shipped corpus carries no robots directives, so — exactly like
#: pii_redact's contact lines — they are injected in-flight and the gate
#: must find them): doc_id mod 7 picks the directive.
ROBOTS_MOD = 7
ROBOTS_CASES = {0: "noindex", 3: "nofollow", 5: "noindex, nofollow"}
_ROBOTS_META_FMT = '<meta name="robots" content="{}">'
ROBOTS_RE = '<meta name="robots" content="([^"]*)">'


def q_robots_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-meta policy extraction: parse the per-page
    ``<meta name="robots">`` directive out of the page HTML and derive
    the indexable/followable verdicts the crawl pipeline gates on
    (pages opting out of indexing must be dropped BEFORE extraction
    spends kernel time on them; nofollow pages keep their text but
    contribute no outlinks to the frontier).

    ZERO shuffle: the page wrap, the directive injection, the regex
    parse, and both verdicts are one codegen projection over the scan.
    Reference analog: AnkiOCR's per-note "is this field already
    populated / excluded" guard before OCR (`api.py:252-268`),
    generalized to page-level crawl policy."""
    from ankiocr_spark.ops import WRAP_PREFIX, WRAP_SUFFIX, doc_url

    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    meta = F.lit("")
    for rem, directive in ROBOTS_CASES.items():
        meta = (
            F.when(F.col("doc_id") % ROBOTS_MOD == rem,
                   F.lit(_ROBOTS_META_FMT.format(directive)))
            .otherwise(meta)
        )
    html = F.concat(
        F.lit("<html><head>"),
        meta,
        F.lit(WRAP_PREFIX.replace("<html><head>", "", 1)),
        F.col("text"),
        F.lit(WRAP_SUFFIX),
    )
    robots = F.regexp_extract(html, ROBOTS_RE, 1)
    return docs.select(
        "doc_id",
        doc_url(F.col("doc_id")).alias("url"),
        robots.alias("robots"),
        (~robots.contains("noindex")).alias("indexable"),
        (~robots.contains("nofollow")).alias("followable"),
    )


def _robots_meta_sql() -> str:
    cases = " ".join(
        f"WHEN doc_id % {ROBOTS_MOD} = {rem} "
        f"THEN '{_ROBOTS_META_FMT.format(d)}'"
        for rem, d in ROBOTS_CASES.items()
    )
    return f"CASE {cases} ELSE '' END"


def _build_oracle_robots() -> str:
    from ankiocr_spark.ops import URL_PREFIX, WRAP_PREFIX, WRAP_SUFFIX

    prefix_rest = WRAP_PREFIX.replace("<html><head>", "", 1)
    return f"""
WITH pages AS (
  SELECT doc_id, '{URL_PREFIX}' || doc_id::VARCHAR AS url,
         '<html><head>' || {_robots_meta_sql()}
           || '{prefix_rest}' || text || '{WRAP_SUFFIX}' AS html
  FROM documents WHERE text IS NOT NULL)
SELECT doc_id, url,
       regexp_extract(html, '{ROBOTS_RE}', 1) AS robots,
       NOT contains(regexp_extract(html, '{ROBOTS_RE}', 1), 'noindex')
         AS indexable,
       NOT contains(regexp_extract(html, '{ROBOTS_RE}', 1), 'nofollow')
         AS followable
FROM pages
"""


# ---------------------------------------------------------------------------
# per-host boilerplate line stripping (CCNet / trafilatura-style)
# ---------------------------------------------------------------------------

#: a line is boilerplate for a host when it appears in at least half of
#: the host's documents. Integer form (2*df >= n_docs) so Spark and the
#: DuckDB oracle compare exactly — no float-threshold divergence.
BOILER_DF_NUM, BOILER_DF_DEN = 1, 2
_PROMO_LINE = "promo subscribe to the newsletter today"
PROMO_MOD = 3


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host boilerplate removal: lines that recur across most of a
    host's pages (nav bars, footers, cookie banners) are template, not
    content — CCNet and trafilatura both strip them by per-host line
    frequency before any quality gate sees the text. The fixture corpus
    has no shared lines, so (like pii_redact's contact lines) a
    deterministic template is injected in-flight: every page of a host
    gets the host's nav line (line-df 1.0 → stripped) and every third
    doc gets a promo line (line-df ≈ 0.33 → kept below the ≥ 1/2 gate).

    Scale shape: line-df stats are ONE map-side-combined aggregate over
    (host, line) — distinct lines per host is template-bounded, so the
    flagged set is tiny and broadcasts back onto the corpus (the corpus
    itself never shuffles). The strip is a codegen array filter against
    the host's broadcast line set. Reference analog: AnkiOCR's cleanup
    of fixed OCR artifacts before writeback (`ocr.py:141-149`), lifted
    from per-string constants to corpus-learned per-host templates."""
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            "source",
            F.concat_ws(
                "\n",
                F.concat(F.lit("nav "), F.col("source"),
                         F.lit(" home about contact login")),
                F.when(F.col("doc_id") % PROMO_MOD == 0, F.lit(_PROMO_LINE)),
                F.col("text"),
            ).alias("page"),
        )
    )
    lines = docs.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(F.split("page", "\n"))).alias("line"),
    )
    host_docs = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    boiler = (
        lines.groupBy("source", "line")
        .agg(F.count("*").alias("df"))
        .join(host_docs, "source")
        .where(BOILER_DF_DEN * F.col("df") >= BOILER_DF_NUM * F.col("n_docs"))
        .groupBy("source")
        .agg(F.sort_array(F.collect_set("line")).alias("bl"))
    )
    paged = docs.join(F.broadcast(boiler), "source", "left").select(
        "doc_id",
        F.split("page", "\n").alias("_lines"),
        F.coalesce("bl", F.array().cast("array<string>")).alias("_bl"),
    )
    # project the filtered array ONCE below the consumers: HOF lambdas are
    # interpreted (no codegen CSE), so referencing `kept` twice in one
    # select would run the array filter twice per row.
    kept_rows = paged.select(
        "doc_id",
        F.size("_lines").cast("bigint").alias("n_lines"),
        F.filter("_lines", lambda l: ~F.array_contains(F.col("_bl"), l)).alias("_kept"),
    )
    return kept_rows.select(
        "doc_id",
        "n_lines",
        (F.col("n_lines") - F.size("_kept")).cast("bigint").alias("n_boiler"),
        F.array_join("_kept", "\n").alias("clean_text"),
    )


ORACLE_BOILERPLATE = f"""
WITH pages AS (
  SELECT doc_id, source,
         'nav ' || source || ' home about contact login' || chr(10)
           || CASE WHEN doc_id % {PROMO_MOD} = 0
                   THEN '{_PROMO_LINE}' || chr(10) ELSE '' END
           || text AS page
  FROM documents WHERE text IS NOT NULL),
lines AS (
  SELECT doc_id, source, unnest(list_distinct(str_split(page, chr(10)))) AS line
  FROM pages),
host_docs AS (SELECT source, count(*) AS n_docs FROM pages GROUP BY source),
boiler AS (
  SELECT lf.source, lf.line
  FROM (SELECT source, line, count(*) AS df FROM lines GROUP BY source, line) lf
  JOIN host_docs h USING (source)
  WHERE {BOILER_DF_DEN} * df >= {BOILER_DF_NUM} * n_docs),
bl AS (SELECT source, list_sort(list(line)) AS bl FROM boiler GROUP BY source),
joined AS (
  SELECT p.doc_id, str_split(p.page, chr(10)) AS ls,
         coalesce(b.bl, []) AS bl
  FROM pages p LEFT JOIN bl b USING (source))
SELECT doc_id,
       len(ls)::BIGINT AS n_lines,
       (len(ls) - len(list_filter(ls, x -> NOT list_contains(bl, x))))::BIGINT
         AS n_boiler,
       array_to_string(list_filter(ls, x -> NOT list_contains(bl, x)), chr(10))
         AS clean_text
FROM joined
"""


# --- DSIR importance weights -------------------------------------------------

#: hashed-bigram feature-space size for the importance model. 4096 buckets
#: keeps the fitted model a broadcastable dictionary at ANY corpus size —
#: the whole point of hashed DSIR: model size is O(buckets), not O(vocab).
DSIR_BUCKETS = 4096
DSIR_TARGET_LANG = "en"
#: log-ratios are quantized to integer micro-nats before the per-doc sum:
#: float sums are partial-agg-order-dependent, integer sums are exact in
#: both engines (the classifier float discipline).
DSIR_SCALE = 1_000_000


def q_dsir_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023): score every doc by
    how much its hashed-bigram distribution looks like a target slice
    (here: the lang='en' docs) versus the raw corpus —
    ``Σ_g log(p_target(g) / p_raw(g))`` with add-one smoothing over
    ``DSIR_BUCKETS`` hashed features. Downstream, sampling ∝ exp(weight)
    tilts the training mixture toward the target domain without a learned
    classifier (`classifier_score` is the learned sibling;
    `domain_mix_sample` consumes weights like these).

    Scale shape: two passes over the bigram stream. Pass 1 (model fit)
    is a map-side-combined count into 4096 buckets — the exchange carries
    ≤ 4096·partitions rows regardless of corpus size — and the bucket →
    log-ratio table broadcasts everywhere. Pass 2 (scoring) is a
    broadcast hash probe + ONE per-doc integer aggregation: the corpus
    itself shuffles only (doc_id, lw) pairs, never text. At 10^12 docs
    the fit output is still 4096 rows — this is why DSIR scales where
    per-token models do not.

    Reference analog: AnkiOCR selects which notes to process via a
    Collection query (`api.py:252-268` NotesQuery); this replaces that
    boolean selection with graded importance weighting."""
    # same tokenize + ≥2-token contract as _tokenized_docs, with lang kept
    # in the projection (joining it back on would shuffle the corpus)
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "lang", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 2)
    )
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.concat_ws(" ", F.get("toks", i), F.get("toks", i + 1)),
    )
    from ankiocr_spark.hashing import hash60

    bucketed = docs.select(
        "doc_id",
        (F.col("lang") == DSIR_TARGET_LANG).cast("int").alias("is_tgt"),
        F.explode(bigrams).alias("g"),
    ).select(
        "doc_id",
        "is_tgt",
        (hash60(F.col("g")) % DSIR_BUCKETS).alias("bucket"),
    )
    counts = bucketed.groupBy("bucket").agg(
        F.count("*").alias("raw_n"), F.sum("is_tgt").alias("tgt_n")
    )
    # totals ride the counts table as an unpartitioned window (≤ 4096 rows
    # on one partition — trivial) instead of a separate agg branch: Catalyst
    # has no cross-branch CSE, so `counts.agg(...)` + crossJoin would
    # re-scan the corpus and rebuild the bigram stream a third time.
    wtot = Window.partitionBy()
    raw_total = F.sum("raw_n").over(wtot)
    tgt_total = F.sum("tgt_n").over(wtot)
    lw = F.round(
        (
            F.log((F.col("tgt_n") + 1) / (tgt_total + F.lit(DSIR_BUCKETS)))
            - F.log((F.col("raw_n") + 1) / (raw_total + F.lit(DSIR_BUCKETS)))
        )
        * F.lit(float(DSIR_SCALE))
    ).cast("bigint")
    weights = counts.select("bucket", lw.alias("lw_micro"))
    scored = (
        bucketed.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("lw_micro").alias("_sum_micro"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round(F.col("_sum_micro") / F.lit(float(DSIR_SCALE)), 6).alias(
            "dsir_logw"
        ),
    )


ORACLE_DSIR = f"""
WITH toks AS (
  SELECT doc_id, lang, str_split(text, ' ') AS t
  FROM documents WHERE text IS NOT NULL),
big AS (
  SELECT doc_id, (lang = '{DSIR_TARGET_LANG}')::INT AS is_tgt,
         unnest(list_transform(generate_series(1, len(t) - 1),
                i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS g
  FROM toks WHERE len(t) >= 2),
bucketed AS (
  SELECT doc_id, is_tgt,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % {DSIR_BUCKETS} AS bucket
  FROM big),
counts AS (
  SELECT bucket, count(*)::BIGINT AS raw_n, sum(is_tgt)::BIGINT AS tgt_n
  FROM bucketed GROUP BY bucket),
totals AS (
  SELECT sum(raw_n)::BIGINT AS raw_total, sum(tgt_n)::BIGINT AS tgt_total
  FROM counts),
weights AS (
  SELECT bucket,
         round((ln((tgt_n + 1) / (tgt_total + {DSIR_BUCKETS}))
              - ln((raw_n + 1) / (raw_total + {DSIR_BUCKETS})))
               * {DSIR_SCALE}.0::DOUBLE)::BIGINT AS lw_micro
  FROM counts CROSS JOIN totals),
scored AS (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         sum(lw_micro)::BIGINT AS sum_micro
  FROM bucketed JOIN weights USING (bucket) GROUP BY doc_id)
SELECT doc_id, n_bigrams,
       round(sum_micro / {DSIR_SCALE}.0::DOUBLE, 6) AS dsir_logw
FROM scored
"""


# --- C4 line/document rules --------------------------------------------------

#: minimum words for a line to survive C4's line rule
C4_MIN_LINE_WORDS = 5
#: terminal punctuation accepted by the end-of-line rule
C4_TERMINALS = (".", "!", "?")
#: deterministic injected structure (the fixture corpus is one line per
#: doc, so — like pii_redact's contact lines — the rules get a slice to
#: bite): every doc gains a short CTA line (always dropped: < 5 words),
#: every 4th doc a javascript notice (dropped by the content rule), and
#: every 2nd doc gets terminal punctuation on its body (the others lose
#: the body to the punctuation rule).
C4_JS_MOD = 4
C4_PUNCT_MOD = 2
_C4_CTA = "click here now"
_C4_JS_LINE = "javascript is required to view this site please enable it today"

#: DuckDB twin of `c4_line_ok` (lambda variable ``x``) — the ONE copy every
#: oracle interpolates (ORACLE_C4, the curation e2e), built from the same
#: constants as the Spark expression so a rule change cannot silently
#: outrun a hand-mirrored SQL fragment (r5 review).
SQL_C4_LINE_OK = (
    "list_contains(["
    + ", ".join(f"'{t}'" for t in C4_TERMINALS)
    + "], substr(x, length(x), 1))"
    + f" AND len(str_split(x, ' ')) >= {C4_MIN_LINE_WORDS}"
    + " AND NOT contains(x, 'javascript')"
)


def sql_c4_doc_gate(col: str) -> str:
    """DuckDB twin of the C4 doc-level gate (lorem-ipsum / curly-brace
    rules) over text column *col* — same single-copy discipline as
    `SQL_C4_LINE_OK`."""
    return (
        f"NOT contains({col}, 'lorem ipsum') AND NOT contains({col}, '{{')"
    )


def c4_lines(body_col, doc_id_col):
    """The injected line structure shared by q_c4_filter and the composed
    curation pipeline: the body line (with terminal punctuation injected
    for every C4_PUNCT_MOD-th doc), the always-dropped CTA line, and the
    javascript notice for every C4_JS_MOD-th doc."""
    body = F.when(
        doc_id_col % C4_PUNCT_MOD == 0, F.concat(body_col, F.lit("."))
    ).otherwise(body_col)
    return F.filter(
        F.array(
            body,
            F.lit(_C4_CTA),
            F.when(doc_id_col % C4_JS_MOD == 0, F.lit(_C4_JS_LINE)),
        ),
        lambda x: x.isNotNull(),
    )


def c4_line_ok(line):
    """C4's line survival rule (terminal punctuation, ≥ 5 words, no
    javascript mention) — one definition for the standalone filter and
    the composed pipeline."""
    return (
        F.substring(line, -1, 1).isin(*C4_TERMINALS)
        & (F.size(F.split(line, " ")) >= C4_MIN_LINE_WORDS)
        & ~line.contains("javascript")
    )


def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cleanup (Raffel et al. 2020): keep only lines that end in
    terminal punctuation, have ≥ 5 words, and don't mention javascript;
    then gate the document on having any surviving content and on the
    doc-level lorem-ipsum / curly-brace rules. This is the exact rule set
    the original C4 build applied to Common Crawl text, and the stage
    that runs right after boilerplate stripping in a webtext pipeline.

    Scale shape: a pure per-row projection — line construction, the rule
    lambda, and the doc gates all fuse into the scan (zero shuffle, zero
    joins; plan-asserted). Every rule is integer/string-exact, so there
    is no float discipline to manage.

    Reference analog: `ocr.py:141-149` (clean_ocr_text) strips blank
    lines and artifact characters per OCR result — the same
    line-filtering writeback step, with C4's published rule set."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    lines = c4_lines(F.col("text"), F.col("doc_id"))
    paged = docs.select("doc_id", "text", lines.alias("_lines")).select(
        "doc_id",
        "text",
        F.size("_lines").cast("bigint").alias("n_lines"),
        F.filter("_lines", c4_line_ok).alias("_kept"),
    )
    return paged.select(
        "doc_id",
        "n_lines",
        F.size("_kept").cast("bigint").alias("n_kept"),
        F.array_join("_kept", "\n").alias("clean_text"),
        (
            (F.size("_kept") > 0)
            & ~F.col("text").contains("lorem ipsum")
            & ~F.col("text").contains("{")
        ).alias("doc_keep"),
    )


ORACLE_C4 = f"""
WITH pages AS (
  SELECT doc_id, text,
         list_filter([
           CASE WHEN doc_id % {C4_PUNCT_MOD} = 0 THEN text || '.' ELSE text END,
           '{_C4_CTA}',
           CASE WHEN doc_id % {C4_JS_MOD} = 0 THEN '{_C4_JS_LINE}' END
         ], x -> x IS NOT NULL) AS ls
  FROM documents WHERE text IS NOT NULL),
kept AS (
  SELECT doc_id, text, len(ls)::BIGINT AS n_lines,
         list_filter(ls, x -> {SQL_C4_LINE_OK}) AS ks
  FROM pages)
SELECT doc_id, n_lines, len(ks)::BIGINT AS n_kept,
       -- array_to_string([]) is NULL in DuckDB but '' in Spark's array_join
       coalesce(array_to_string(ks, chr(10)), '') AS clean_text,
       (len(ks) > 0 AND {sql_c4_doc_gate("text")}) AS doc_keep
FROM kept
"""


# --- bad-words dictionary gate -----------------------------------------------

#: placeholder dictionary standing in for an audited term pack (C4 used
#: the LDNOOBW word list); terms are drawn from the fixture vocabulary so
#: the gate has a real slice to bite. Swapping in the real list changes
#: this tuple only — at 10^5 dictionary terms the isin literal becomes a
#: broadcast semi-join on the exploded token stream, same verdict column.
BAD_WORDS = ("slow", "legacy")


def q_badwords_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary content gate (C4's bad-words rule): count occurrences
    of dictionary terms per document and drop any document containing
    one. Complements `blocklist_filter` (host-level policy) with
    content-level policy — both run before extraction-adjacent stages so
    gated docs never cost kernel time.

    Scale shape: pure per-row projection (token filter against a literal
    set), fused into the scan — zero shuffle, plan-asserted.

    Reference analog: the language whitelist AnkiOCR applies before OCR
    (`ocr.py:62`, ISO 639-2 list) — a config-driven allow/deny gate,
    here over content tokens instead of language codes."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id", F.filter(F.split("text", " "), lambda x: x != "").alias("_toks")
    )
    n_bad = F.size(F.filter("_toks", lambda x: x.isin(*BAD_WORDS)))
    return toks.select(
        "doc_id",
        F.size("_toks").cast("bigint").alias("n_tokens"),
        n_bad.cast("bigint").alias("n_bad"),
        (n_bad == 0).alias("keep"),
    )


_BAD_LIST = "[" + ", ".join(f"'{w}'" for w in BAD_WORDS) + "]"

ORACLE_BADWORDS = f"""
WITH toks AS (
  SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL)
SELECT doc_id,
       len(toks)::BIGINT AS n_tokens,
       len(list_filter(toks, x -> list_contains({_BAD_LIST}, x)))::BIGINT AS n_bad,
       len(list_filter(toks, x -> list_contains({_BAD_LIST}, x))) = 0 AS keep
FROM toks
"""


# ---------------------------------------------------------------------------
# Mojibake / encoding-damage detection
# ---------------------------------------------------------------------------

#: deterministic planted corruption (the C4 injection discipline — the
#: fixture corpus is clean ascii-ish text, so the detector gets a slice to
#: bite): every MOJI_DOUBLE_MOD-th doc gains a double-encoded UTF-8 word
#: (' cafÃ©', the classic latin-1-read-as-utf-8 damage) and every
#: MOJI_FFFD_MOD-th additionally a U+FFFD replacement character (a lossy
#: transcode). Both rates are corpus-realistic for raw Common Crawl.
MOJI_DOUBLE_MOD = 5
MOJI_FFFD_MOD = 10
_MOJI_WORD = " caf\u00c3\u00a9"  # e-acute double-encoded
_FFFD = "\ufffd"
#: UTF-8-double-encoding signature: a 'Ã'/'Â' lead byte (as a codepoint)
#: followed by a Latin-1 continuation-range codepoint — the exact shape
#: latin-1-decoded UTF-8 multibyte sequences collapse to. The SAME pattern
#: string feeds both engines (Java regex and RE2 agree on literal classes).
_MOJI_PAT = "[\u00c2\u00c3][\u0080-\u00bf]"


def q_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage detection: count U+FFFD replacement characters
    (lossy transcodes) and double-encoded UTF-8 signatures ('Ã©'-style
    lead+continuation pairs) per document — the standard webtext health
    gate for charset-mangled pages, which no downstream tokenizer can
    repair and every curation pipeline drops or re-fetches.

    Scale shape: a pure codegen projection fused into the scan — two
    length-difference counts (replace / regexp_replace), zero Exchange,
    zero joins; plan-asserted. Integer counts end to end.

    Reference analog: `ocr.py:141-149` (clean_ocr_text) strips OCR
    artifact characters from recognized text; mojibake is the crawl-side
    artifact class, detected rather than silently stripped so the fetch
    layer can re-decode."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    corrupted = F.concat(
        F.col("text"),
        F.when(
            F.pmod(F.col("doc_id"), MOJI_DOUBLE_MOD) == 0, F.lit(_MOJI_WORD)
        ).otherwise(F.lit("")),
        F.when(
            F.pmod(F.col("doc_id"), MOJI_FFFD_MOD) == 0, F.lit(" " + _FFFD)
        ).otherwise(F.lit("")),
    )
    staged = docs.select("doc_id", corrupted.alias("s"))
    n_fffd = (
        F.length("s") - F.length(F.regexp_replace("s", _FFFD, ""))
    ).cast("bigint")
    n_double = (
        (F.length("s") - F.length(F.regexp_replace("s", _MOJI_PAT, "")))
        / F.lit(2)
    ).cast("bigint")
    return staged.select(
        "doc_id",
        n_fffd.alias("n_fffd"),
        n_double.alias("n_double_enc"),
        ((n_fffd == 0) & (n_double == 0)).cast("int").alias("is_clean"),
    )


ORACLE_MOJIBAKE = f"""
WITH staged AS (
  SELECT doc_id,
         text
         || CASE WHEN ((doc_id % {MOJI_DOUBLE_MOD} + {MOJI_DOUBLE_MOD}) % {MOJI_DOUBLE_MOD}) = 0
                 THEN ' caf' || chr(195) || chr(169) ELSE '' END
         || CASE WHEN ((doc_id % {MOJI_FFFD_MOD} + {MOJI_FFFD_MOD}) % {MOJI_FFFD_MOD}) = 0
                 THEN ' ' || chr(65533) ELSE '' END AS s
  FROM documents WHERE text IS NOT NULL),
counted AS (
  SELECT doc_id,
         (length(s) - length(replace(s, chr(65533), '')))::BIGINT AS n_fffd,
         ((length(s) - length(regexp_replace(s, '{_MOJI_PAT}', '', 'g'))) // 2)::BIGINT
           AS n_double_enc
  FROM staged)
SELECT doc_id, n_fffd, n_double_enc,
       CASE WHEN n_fffd = 0 AND n_double_enc = 0 THEN 1 ELSE 0 END AS is_clean
FROM counted
"""


# ---------------------------------------------------------------------------
# Domain reputation — host-level quality gating (FineWeb-style)
# ---------------------------------------------------------------------------

#: reputation threshold: hosts scoring below are dropped wholesale.
#: Calibrated on the fixture corpus: host reputations span 0.403-0.592
#: at sf0.001 and 0.445-0.623 at sf0.01, so 0.55 splits the host set at
#: both scales (7 kept / 4 dropped, then 5 / 6) with ≥ 0.005 clearance
#: to the nearest score — float-compare-safe after the 6 dp rounding.
REP_TAU = 0.55

#: length half of the score saturates at this per-host average char count
REP_CHARS_CAP = 400.0
#: bad-token rate amplifier (rates are ~1e-2, the score axis is [0, 1])
REP_BAD_AMP = 20.0


def q_domain_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level reputation gate: aggregate cheap per-document signals
    to ONE score per host, then gate every document by its host's score —
    the domain-level filtering pass web-scale curation runs because
    quality is strongly host-correlated (content farms are farms
    everywhere): FineWeb/RefinedWeb both prune at the domain level before
    per-document gates.

    Exactness discipline: the per-host aggregation sums INTEGERS only
    (docs, chars, tokens, bad-token hits) — order-independent across
    partial aggregation — and the float score is computed once per host
    row from those exact totals, then rounded. score = 0.5·min(1,
    avg_chars/cap) + 0.5·max(0, 1 − amp·bad_rate).

    Scale shape: ONE map-side-combined exchange to the host grain
    (hosts ≪ docs), then the host verdicts broadcast back onto the
    corpus — the corpus itself never shuffles. The verdict join's doc
    branch re-scans the table, but column pruning cuts that branch to
    the doc_id column alone (host derives from it): the expensive
    text-tokenize pass runs exactly once, in the aggregate branch.
    Reference analog:
    AnkiOCR's per-deck scoping of which notes enter OCR
    (`ocr.py:55-60`) — a container-level gate ahead of per-item work."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 11).cast("string"), F.lit(".example.org")
    )
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    per_doc = docs.select(
        "doc_id",
        host.alias("host"),
        F.col("n_chars"),
        F.size(toks).cast("bigint").alias("n_toks"),
        F.size(F.filter(toks, lambda x: x.isin(*BAD_WORDS)))
        .cast("bigint")
        .alias("n_bad"),
    )
    per_host = per_doc.groupBy("host").agg(
        F.count("*").alias("host_docs"),
        F.sum("n_chars").alias("_chars"),
        F.sum("n_toks").alias("_toks"),
        F.sum("n_bad").alias("_bad"),
    )
    avg_chars = F.col("_chars") / F.col("host_docs")
    # zero-token guard (r5 review): a host of empty-but-non-null texts
    # has _toks = 0; an unguarded division yields NULL, whose handling
    # differs across engines (Spark `greatest` skips nulls, DuckDB
    # versions vary) — treat no-token hosts as bad_rate 0 in BOTH
    bad_rate = F.when(F.col("_toks") == 0, F.lit(0.0)).otherwise(
        F.col("_bad") / F.col("_toks")
    )
    rep = F.round(
        F.lit(0.5) * F.least(F.lit(1.0), avg_chars / F.lit(REP_CHARS_CAP))
        + F.lit(0.5)
        * F.greatest(F.lit(0.0), F.lit(1.0) - F.lit(REP_BAD_AMP) * bad_rate),
        6,
    )
    verdicts = per_host.select(
        "host", "host_docs", rep.alias("reputation"),
        (rep >= F.lit(REP_TAU)).alias("host_kept"),
    )
    return per_doc.select("doc_id", "host").join(
        F.broadcast(verdicts), "host"
    ).select("doc_id", "host", "host_docs", "reputation", "host_kept")


ORACLE_DOMAIN_REP = f"""
WITH per_doc AS (
  SELECT doc_id,
         'h' || (doc_id % 11) || '.example.org' AS host,
         n_chars,
         len(list_filter(str_split(text, ' '), x -> x <> ''))::BIGINT AS n_toks,
         len(list_filter(str_split(text, ' '),
             x -> list_contains({_BAD_LIST}, x)))::BIGINT AS n_bad
  FROM documents WHERE text IS NOT NULL),
per_host AS (
  SELECT host, count(*)::BIGINT AS host_docs,
         sum(n_chars)::BIGINT AS chars,
         sum(n_toks)::BIGINT AS toks,
         sum(n_bad)::BIGINT AS bad
  FROM per_doc GROUP BY host),
verdicts AS (
  SELECT host, host_docs,
         round(0.5::DOUBLE * least(1.0::DOUBLE,
                   (chars::DOUBLE / host_docs) / {REP_CHARS_CAP}::DOUBLE)
             + 0.5::DOUBLE * greatest(0.0::DOUBLE,
                   1.0::DOUBLE - {REP_BAD_AMP}::DOUBLE
                     * (CASE WHEN toks = 0 THEN 0.0::DOUBLE
                             ELSE bad::DOUBLE / toks END)),
         6) AS reputation
  FROM per_host)
SELECT d.doc_id, d.host, v.host_docs, v.reputation,
       v.reputation >= {REP_TAU}::DOUBLE AS host_kept
FROM per_doc d JOIN verdicts v USING (host)
"""


# ---------------------------------------------------------------------------
# robots.txt Disallow-path gate — crawl-side politeness filtering
# ---------------------------------------------------------------------------


def _robots_txt(k: int) -> str:
    """Deterministic per-host robots.txt body (host h{k}): every third
    host blocks a /private/ subtree plus the /doc/1 PREFIX (so docs 1,
    10-19, 100-199... are disallowed there), the next third uses a
    lowercase ``disallow:`` directive (RFC 9309 directive names are
    case-insensitive — the parser must not miss it) plus TWO Crawl-delay
    lines ('10' then '5', the real-world user-agent-split shape) whose
    effective delay must be the NUMERIC max 10 — a lexicographic string
    max picks '5' (r5 review find) — and the rest emit an EMPTY Disallow
    (the RFC's allow-all form, which must match nothing)."""
    if k % 3 == 0:
        return "User-agent: *\nDisallow: /private/\nDisallow: /doc/1"
    if k % 3 == 1:
        return (
            "User-agent: *\nCrawl-delay: 10\nCrawl-delay: 5"
            "\ndisallow: /doc/7"
        )
    return "User-agent: *\nDisallow:"


_ROBOTS_LINE_RE = "(?i)^disallow\\s*:\\s*(.*)$"


def _robots_df(spark: SparkSession) -> DataFrame:
    """The (host, robots.txt body) fixture relation — built in exactly one
    place so the Spark queries and the SQL oracles (via
    ``_ROBOTS_VALUES_SQL``) can never drift (r5 review: the literal was
    inlined four times)."""
    return spark.createDataFrame(
        [(f"h{k}.example.org", _robots_txt(k)) for k in range(11)],
        "host string, robots string",
    )


def _robots_values_sql() -> str:
    """The same fixture as a DuckDB VALUES list (newlines embedded via
    chr(10) so the SQL string stays single-line)."""
    def body(k: int) -> str:
        return "'" + _robots_txt(k).replace("\n", "' || chr(10) || '") + "'"

    return ", ".join(f"('h{k}.example.org', {body(k)})" for k in range(11))


_ROBOTS_VALUES_SQL = _robots_values_sql()


def q_robots_txt_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt Disallow gate: parse each host's raw robots.txt body
    IN-ENGINE (split lines → case-insensitive directive match → prefix
    extraction, all codegen string ops), then drop every URL whose path
    starts with a disallowed prefix — the politeness filter a crawl
    pipeline applies before fetching ever reaches extraction. Complements
    ``robots_policy`` (per-PAGE meta directives) with the per-HOST
    robots.txt contract; prefix semantics per RFC 9309 (empty Disallow
    matches nothing, directive names case-fold).

    Scale shape: the parsed rules collapse to ONE row per host (an array
    of disallow prefixes — metadata-sized: hosts × directives), which
    BROADCASTS onto the url stream; the verdict is a higher-order
    ``exists`` over the prefix array inside the same projection, so the
    corpus side never shuffles at all (plan-asserted: no SortMergeJoin,
    no corpus Exchange). The fixture synthesizes robots bodies
    deterministically per host (`_robots_txt`) so both engines parse
    identical inputs. Reference analog: AnkiOCR's pre-OCR exclusion
    guard (`api.py:252-268`) — skip items policy forbids before paying
    for them."""
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 11).cast("string"), F.lit(".example.org")
    )
    pages = docs.select(
        "doc_id",
        host.alias("host"),
        F.concat(F.lit("/doc/"), F.col("doc_id").cast("string")).alias("path"),
    )
    line = F.explode(F.split("robots", "\n")).alias("line")
    rule_sets = (
        _robots_df(spark).select("host", line)
        .select(
            "host",
            F.trim(F.regexp_extract("line", _ROBOTS_LINE_RE, 1)).alias("prefix"),
            F.col("line").rlike("(?i)^disallow\\s*:").alias("_is_disallow"),
        )
        .where(F.col("_is_disallow") & (F.col("prefix") != ""))
        .groupBy("host")
        .agg(F.collect_list("prefix").alias("prefixes"))
    )
    joined = pages.join(F.broadcast(rule_sets), "host", "left")
    # collect_list order is nondeterministic — irrelevant: `exists` is
    # order-independent over the prefix set
    blocked = F.exists(
        F.coalesce("prefixes", F.array().cast("array<string>")),
        lambda p: F.col("path").startswith(p),
    )
    return joined.select(
        "doc_id",
        F.concat(F.lit("https://"), F.col("host"), F.col("path")).alias("url"),
        "host",
        (~blocked).alias("kept"),
    )


def _build_oracle_robots_txt() -> str:
    return f"""
WITH robots(host, robots) AS (VALUES {_ROBOTS_VALUES_SQL}),
rules AS (
  SELECT host, trim(regexp_extract(line, '{_ROBOTS_LINE_RE}', 1)) AS prefix
  FROM robots, unnest(str_split(robots, chr(10))) AS u(line)
  WHERE regexp_matches(line, '(?i)^disallow\\s*:')
    AND trim(regexp_extract(line, '{_ROBOTS_LINE_RE}', 1)) <> ''),
rule_sets AS (SELECT host, list(prefix) AS prefixes FROM rules GROUP BY host),
pages AS (
  SELECT doc_id,
         'h' || (doc_id % 11) || '.example.org' AS host,
         '/doc/' || doc_id AS path
  FROM documents WHERE text IS NOT NULL)
SELECT p.doc_id, 'https://' || p.host || p.path AS url, p.host,
       NOT coalesce(
         len(list_filter(r.prefixes, x -> starts_with(p.path, x))) > 0,
         false) AS kept
FROM pages p LEFT JOIN rule_sets r USING (host)
"""


# ---------------------------------------------------------------------------
# crawl-frontier scheduling — politeness-rate fetch-slot assignment
# ---------------------------------------------------------------------------

#: default inter-fetch delay for hosts whose robots.txt sets none
CRAWL_DEFAULT_DELAY_MS = 1000

_CRAWL_DELAY_RE = "(?i)^crawl-delay\\s*:\\s*([0-9]+)"


def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware frontier scheduling: assign every crawlable URL a
    per-host fetch slot and an earliest fetch time that respects the
    host's robots.txt ``Crawl-delay`` (parsed in-engine from the same
    bodies as `robots_txt_filter`; RFC 9309 leaves the directive
    nonstandard-but-ubiquitous, default ``CRAWL_DEFAULT_DELAY_MS``).
    Disallowed URLs never enter the schedule — the query composes the
    robots gate. fetch_ms = slot × delay_ms stays in integers (no float
    time arithmetic), so the schedule is engine-exact.

    Scale shape: the delay table is one row per host (broadcast, like
    the prefix rules), and the slot assignment is ONE window exchange
    partitioned by host — the natural frontier partitioning, since a
    crawler's work queue is per-host serialized by politeness anyway.
    Host skew is inherent (giant hosts have giant queues) but bounded by
    the crawl budget: production caps slots per host per cycle
    (slot < budget → fetch now, else deferred to the next cycle) — the
    cap is a WHERE on the already-computed slot, not a new stage.
    Reference analog: AnkiOCR's batch loop paces OCR work in
    fixed-size batches (`ocr.py` batch loop); this is that pacing
    generalized to per-host rate limits."""
    gated = q_robots_txt_filter(spark, sf_dir).where(F.col("kept"))
    line = F.explode(F.split("robots", "\n")).alias("line")
    # NUMERIC max, never a string max (r5 review: lexicographic max picks
    # '5' over '10' when a real-world user-agent-split file carries two
    # Crawl-delay lines — and the oracle would have replicated the same
    # wrong math, the bug class parity checks can't catch). Non-directive
    # lines map to NULL, which max() skips; a host with no directive
    # yields NULL → the default.
    delay = (
        _robots_df(spark).select("host", line)
        .select(
            "host",
            F.when(
                F.col("line").rlike(_CRAWL_DELAY_RE),
                F.regexp_extract("line", _CRAWL_DELAY_RE, 1).cast("bigint"),
            ).alias("_d"),
        )
        .groupBy("host")
        .agg(F.max(F.col("_d")).alias("_d"))
        .select(
            "host",
            F.coalesce(
                F.col("_d") * 1000, F.lit(CRAWL_DEFAULT_DELAY_MS).cast("bigint")
            ).alias("delay_ms"),
        )
    )
    w = Window.partitionBy("host").orderBy("doc_id")
    return (
        gated.join(F.broadcast(delay), "host")
        .select(
            "doc_id",
            "host",
            (F.row_number().over(w) - 1).alias("slot"),
            "delay_ms",
        )
        .withColumn("fetch_ms", F.col("slot") * F.col("delay_ms"))
    )


def _build_oracle_crawl_schedule() -> str:
    return f"""
WITH gated AS (SELECT doc_id, host FROM ({_build_oracle_robots_txt()}) WHERE kept),
robots(host, robots) AS (VALUES {_ROBOTS_VALUES_SQL}),
delay AS (
  SELECT host,
         coalesce(max(d) * 1000, {CRAWL_DEFAULT_DELAY_MS}::BIGINT) AS delay_ms
  FROM (
    SELECT host,
           CASE WHEN regexp_matches(line, '{_CRAWL_DELAY_RE}')
                THEN regexp_extract(line, '{_CRAWL_DELAY_RE}', 1)::BIGINT
           END AS d
    FROM robots, unnest(str_split(robots, chr(10))) AS u(line))
  GROUP BY host),
slots AS (
  SELECT g.doc_id, g.host,
         (row_number() OVER (PARTITION BY g.host ORDER BY g.doc_id) - 1)
           ::BIGINT AS slot,
         d.delay_ms
  FROM gated g JOIN delay d USING (host))
SELECT doc_id, host, slot, delay_ms, (slot * delay_ms)::BIGINT AS fetch_ms
FROM slots
"""


QUERIES = {
    "pii_redact": q_pii_redact,
    "robots_policy": q_robots_policy,
    "boilerplate_strip": q_boilerplate_strip,
    "repetition_filter": q_repetition_filter,
    "tfidf_top_terms": q_tfidf_top_terms,
    "blocklist_filter": q_blocklist_filter,
    "domain_mix_sample": q_domain_mix_sample,
    "lm_perplexity": q_lm_perplexity,
    "perplexity_buckets": q_perplexity_buckets,
    "dsir_weight": q_dsir_weight,
    "c4_filter": q_c4_filter,
    "badwords_filter": q_badwords_filter,
    "domain_reputation": q_domain_reputation,
    "robots_txt_filter": q_robots_txt_filter,
    "crawl_schedule": q_crawl_schedule,
    "mojibake": q_mojibake,
}

ORACLE_SQL = {
    "pii_redact": ORACLE_PII_REDACT,
    "robots_policy": _build_oracle_robots(),
    "boilerplate_strip": ORACLE_BOILERPLATE,
    "repetition_filter": ORACLE_REPETITION,
    "tfidf_top_terms": ORACLE_TFIDF,
    "blocklist_filter": ORACLE_BLOCKLIST,
    "domain_mix_sample": ORACLE_MIX,
    "lm_perplexity": ORACLE_LM,
    "perplexity_buckets": ORACLE_PPL_BUCKETS,
    "dsir_weight": ORACLE_DSIR,
    "c4_filter": ORACLE_C4,
    "badwords_filter": ORACLE_BADWORDS,
    "domain_reputation": ORACLE_DOMAIN_REP,
    "robots_txt_filter": _build_oracle_robots_txt(),
    "crawl_schedule": _build_oracle_crawl_schedule(),
    "mojibake": ORACLE_MOJIBAKE,
}
