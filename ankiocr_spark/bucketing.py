"""Bucketed (co-located) tables: shuffle-free joins on the bucket key.

At 100 TB the extract table is joined repeatedly on ``url`` (rejoin of
metadata, MERGE of re-crawls, dedup verdict application). Hash-bucketing
both sides ON WRITE makes every such join shuffle-free: Spark's bucketed
scan exposes the bucket hash-partitioning, so SortMergeJoin runs with ZERO
Exchange operators (asserted by tests/test_bucketing.py against the
physical plan). This is the plain-Spark analog of Iceberg's
``bucket(N, url)`` partition transform the north_star targets, and the
write-side complement of the job's post-kernel ``bucket`` column.

The reference has no analog (single SQLite file); this is pure Spark
machinery required by the scale target (SURVEY.md §2.1 last paragraph).
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame, table: str, buckets: int, key: str, path: str = None
) -> None:
    """Persist ``df`` as a bucketed, key-sorted table. Sorting by the key
    lets SortMergeJoin skip its sort too. With ``path`` the table is
    EXTERNAL at that location — use a fresh path for rerun-safe jobs: a
    managed table's warehouse directory outlives the (per-session) catalog
    entry, so a second session's identically-named saveAsTable dies with
    LOCATION_ALREADY_EXISTS."""
    writer = (
        df.write.mode("overwrite").format("parquet")
        .bucketBy(buckets, key).sortBy(key)
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key — planned with no
    Exchange when both sides share bucket count and key."""
    return spark.table(left_table).join(spark.table(right_table), key)


def count_exchanges(df: DataFrame) -> int:
    """Number of Exchange (shuffle) operators in the executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        line.strip().lstrip("+-*( 0123456789)").startswith("Exchange")
        for line in plan.splitlines()
    )


def merge_upsert(
    spark: SparkSession, target_table: str, delta_table: str, key: str = "url"
) -> DataFrame:
    """Iceberg ``MERGE INTO target USING delta ON key WHEN MATCHED THEN
    UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` re-expressed over
    same-bucketed parquet tables (the SCALE.md mapping's promise): a
    full-outer join on the bucket key where a matched delta row wins
    WHOLESALE (row-wins, not per-column coalesce) and unmatched rows from
    either side pass through. Because both tables are bucketed and
    sort-ordered on ``key``, the join plans with ZERO Exchange and zero
    Sort — at 100 TB a re-crawl MERGE touches no shuffle at all.

    Duplicate delta keys raise, mirroring MERGE's runtime contract:
    Iceberg errors when one target row matches multiple delta rows,
    whereas a full-outer join would silently FAN OUT (one output row per
    duplicate, corrupting key uniqueness for every later merge). The
    check is folded into the merge plan: a per-key window count rides the
    delta scan — sharing the bucketed table's hash partitioning, so still
    no Exchange — and a guarded ``raise_error`` FILTER fires at ACTION
    time, which is exactly when Iceberg's own multiple-match check fires.
    A filter (not a guarded projection — column pruning would elide that
    under ``count()``-style actions) is evaluated under every action. A
    PARTIAL action — ``show(5)``, ``limit(k)``, ``first()`` — only
    evaluates the rows it touches, so an invalid delta whose duplicate
    rows sort late can pass a peek and only raise on the full
    materialization; MERGE consumers materialize fully (the write is the
    action), so the contract holds where it matters.

    NULL keys can never match a target row (the join condition is
    null-rejecting), so multiple NULL-key delta rows cannot fan out —
    they all pass through as inserts, which MERGE accepts."""
    d = (
        spark.table(delta_table)
        .withColumn("_n_delta_rows", F.count("*").over(Window.partitionBy(key)))
        .alias("d")
    )
    t = spark.table(target_table).alias("t")
    val_cols = [c for c in spark.table(target_table).columns if c != key]
    matched = F.col(f"d.{key}").isNotNull()
    dup_error = F.raise_error(
        F.concat(
            F.lit(
                f"MERGE: delta table {delta_table!r} has duplicate {key!r} "
                "keys (e.g. "
            ),
            F.col(f"d.{key}"),
            F.lit(
                ") — MERGE semantics forbid multiple matches per target row; "
                "dedup the delta (e.g. keep newest warc_ts per key) first"
            ),
        )
    )
    joined = t.join(
        d, F.col(f"t.{key}") == F.col(f"d.{key}"), "full_outer"
    ).where(
        F.when(matched & (F.col("d._n_delta_rows") > 1), dup_error).otherwise(
            F.lit(True)
        )
    )
    return joined.select(
        F.coalesce(F.col(f"d.{key}"), F.col(f"t.{key}")).alias(key),
        *[
            F.when(matched, F.col(f"d.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            for c in val_cols
        ],
    )


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query (VERDICT r2 stretch #9): a re-crawl delta applied to
    the extract table via the bucketed MERGE analog, with the co-located
    zero-Exchange join doing real work. Target = the flagship extract of
    every document; delta = a re-crawl of every 5th doc whose content
    changed ('UPDATED ' prefix) plus brand-new pages for every 7th doc —
    so the merged result exercises matched-update, unmatched-keep, and
    insert paths, all in the flagship's closed form."""
    from .config import ExtractConfig
    from .job import run_extract
    from .ops import doc_url, docs_as_pages, load, wrap_html

    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    updates = docs.where(F.col("doc_id") % 5 == 0).select(
        doc_url(F.col("doc_id")).alias("url"),
        wrap_html(F.concat(F.lit("UPDATED "), F.col("text"))).alias("html"),
        F.lit(None).cast("string").alias("lang"),
    )
    inserts = docs.where(F.col("doc_id") % 7 == 0).select(
        doc_url(F.col("doc_id") + 1000000).alias("url"),
        wrap_html(F.col("text")).alias("html"),
        F.lit(None).cast("string").alias("lang"),
    )
    cfg = ExtractConfig(salt_buckets=8)
    target = run_extract(
        spark, docs_as_pages(spark, sf_dir).where(F.col("html").isNotNull()), cfg
    ).select("url", "extracted_text")
    delta = run_extract(spark, updates.unionByName(inserts), cfg).select(
        "url", "extracted_text"
    )
    import os
    import tempfile

    base = tempfile.mkdtemp(prefix="merge_q_")
    for name, df in (("merge_target_q", target), ("merge_delta_q", delta)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        # external table at a fresh temp path: rerun-safe across sessions
        # (a managed table's location would survive this session's catalog)
        write_bucketed(df, name, buckets=8, key="url",
                       path=os.path.join(base, name))
    return merge_upsert(spark, "merge_target_q", "merge_delta_q")


def _oracle_merge_upsert() -> str:
    from .ops import URL_PREFIX, extract_case_sql as extract

    return f"""
WITH t AS (
  SELECT '{URL_PREFIX}' || doc_id AS url, {extract("text")} AS extracted_text
  FROM documents WHERE text IS NOT NULL),
upd AS (
  SELECT '{URL_PREFIX}' || doc_id AS url,
         {extract("'UPDATED ' || text")} AS extracted_text
  FROM documents WHERE doc_id % 5 = 0 AND text IS NOT NULL),
ins AS (
  SELECT '{URL_PREFIX}' || (doc_id + 1000000) AS url,
         {extract("text")} AS extracted_text
  FROM documents WHERE doc_id % 7 = 0 AND text IS NOT NULL),
d AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
SELECT coalesce(d.url, t.url) AS url,
       CASE WHEN d.url IS NOT NULL THEN d.extracted_text
            ELSE t.extracted_text END AS extracted_text
FROM t FULL OUTER JOIN d ON t.url = d.url
"""


# ---------------------------------------------------------------------------
# Crawl snapshot delta — the read-side sibling of the MERGE upsert
# ---------------------------------------------------------------------------


def crawl_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """Diff two crawl snapshots keyed by url: which pages were added,
    removed, changed (content digest differs), or unchanged — the report
    an incremental re-crawl pipeline emits before deciding what to
    re-extract (the read-side sibling of `merge_upsert`, which APPLIES
    the delta this query DESCRIBES).

    Inputs are (url, digest) relations; comparison is by content digest
    (how real crawl-diff works — CDX dedup compares payload hashes, not
    bodies). Scale shape: ONE full-outer sort-merge join on url; over
    snapshots bucketed by url (`write_bucketed`) the join is
    zero-Exchange exactly like the MERGE above, and the status column is
    a codegen CASE over the join output."""
    o = old.select("url", F.col("digest").alias("old_digest"))
    n = new.select("url", F.col("digest").alias("new_digest"))
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") != F.col("new_digest"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return o.join(n, "url", "full_outer").select(
        "url", status.alias("status"), "old_digest", "new_digest"
    )


def q_crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff over the document corpus: the re-crawl drops every
    17th page (removed), rewrites every 5th surviving page with an
    'UPDATED ' prefix (changed), and discovers a brand-new page for every
    7th doc (added) — the same delta shapes the MERGE fixture uses, so
    all four status paths carry rows. Digest = md5(text): identical
    closed form in Spark and DuckDB."""
    from .ops import doc_url, load

    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    old = docs.select(
        doc_url(F.col("doc_id")).alias("url"), F.md5("text").alias("digest")
    )
    survivors = docs.where(F.col("doc_id") % 17 != 0)
    recrawled = survivors.select(
        doc_url(F.col("doc_id")).alias("url"),
        F.md5(
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.lit("UPDATED "), F.col("text"))
            ).otherwise(F.col("text"))
        ).alias("digest"),
    )
    discovered = docs.where(F.col("doc_id") % 7 == 0).select(
        doc_url(F.col("doc_id") + 1000000).alias("url"),
        F.md5("text").alias("digest"),
    )
    return crawl_delta(old, recrawled.unionByName(discovered))


def _oracle_crawl_delta() -> str:
    from .ops import URL_PREFIX

    return f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
old AS (
  SELECT '{URL_PREFIX}' || doc_id AS url, md5(text) AS digest FROM d),
recrawled AS (
  SELECT '{URL_PREFIX}' || doc_id AS url,
         md5(CASE WHEN doc_id % 5 = 0 THEN 'UPDATED ' || text
                  ELSE text END) AS digest
  FROM d WHERE doc_id % 17 <> 0),
discovered AS (
  SELECT '{URL_PREFIX}' || (doc_id + 1000000) AS url, md5(text) AS digest
  FROM d WHERE doc_id % 7 = 0),
new AS (SELECT * FROM recrawled UNION ALL SELECT * FROM discovered)
SELECT coalesce(old.url, new.url) AS url,
       CASE WHEN old.digest IS NULL THEN 'added'
            WHEN new.digest IS NULL THEN 'removed'
            WHEN old.digest <> new.digest THEN 'changed'
            ELSE 'unchanged' END AS status,
       old.digest AS old_digest, new.digest AS new_digest
FROM old FULL OUTER JOIN new ON old.url = new.url
"""


# ---------------------------------------------------------------------------
# Incremental extraction — kernel cost proportional to the DELTA
# ---------------------------------------------------------------------------


def split_incremental(
    old_extracts: DataFrame, new_pages: DataFrame
) -> Tuple[DataFrame, DataFrame]:
    """Partition a new crawl snapshot against the previous extract table:
    (reuse, to_extract) where `reuse` carries forward the old extracted
    text for pages whose content digest is unchanged, and `to_extract` is
    ONLY the added/changed pages — the relation the kernel must run on.

    This is THE 100-TB economics of a recurring crawl: a weekly re-crawl
    of 10^12 pages changes a few percent, so the extraction kernel (the
    dominant cost, BENCH §1) must scale with the delta, not the corpus.
    Scale shape: one join on url (zero-Exchange over url-bucketed
    snapshots, as with `crawl_delta`); digest compare is codegen; the
    heavy html payload column never enters the join's shuffle on the old
    side (old carries only url+digest+text)."""
    old = old_extracts.select(
        "url",
        F.col("digest").alias("old_digest"),
        F.col("extracted_text").alias("old_text"),
    )
    new = new_pages.withColumn("digest", F.md5("html"))
    j = new.join(old, "url", "left")
    # null-safe equality: a page with NULL html (digest NULL) must fall
    # through to the kernel (which quarantines it), not vanish from both
    # branches because the comparison is three-valued.
    unchanged = F.col("old_digest").isNotNull() & F.col("digest").eqNullSafe(
        F.col("old_digest")
    )
    reuse = j.where(unchanged).select(
        "url", F.col("old_text").alias("extracted_text")
    )
    to_extract = j.where(~unchanged).select(*new_pages.columns)
    return reuse, to_extract


def incremental_extract(
    spark: SparkSession,
    old_extracts: DataFrame,
    new_pages: DataFrame,
    cfg=None,
) -> DataFrame:
    """New snapshot's extract table = carried-forward unchanged rows ∪
    kernel output over added/changed pages only."""
    from .job import run_extract

    reuse, to_extract = split_incremental(old_extracts, new_pages)
    fresh = run_extract(spark, to_extract, cfg).select("url", "extracted_text")
    return reuse.unionByName(fresh)


def q_incremental_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: re-crawl fixture (every 17th page gone, every 5th
    survivor rewritten with an 'UPDATED ' prefix, a new page per 7th doc)
    extracted INCREMENTALLY against the previous flagship extract table.
    The result equals a full extract of the new snapshot (the closed-form
    oracle), but the kernel only saw the added/changed slice —
    `tests/test_bucketing.py` asserts that input count exactly."""
    from .config import ExtractConfig
    from .job import run_extract
    from .ops import doc_url, docs_as_pages, load, wrap_html

    cfg = ExtractConfig(salt_buckets=8)
    old_pages = docs_as_pages(spark, sf_dir).where(F.col("html").isNotNull())
    old_extracts = run_extract(spark, old_pages, cfg).select(
        "url", "extracted_text"
    ).join(
        old_pages.select("url", F.md5("html").alias("digest")), "url"
    )
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    survivors = docs.where(F.col("doc_id") % 17 != 0)
    recrawled = survivors.select(
        doc_url(F.col("doc_id")).alias("url"),
        wrap_html(
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.lit("UPDATED "), F.col("text"))
            ).otherwise(F.col("text"))
        ).alias("html"),
        F.lit(None).cast("string").alias("lang"),
    )
    discovered = docs.where(F.col("doc_id") % 7 == 0).select(
        doc_url(F.col("doc_id") + 1000000).alias("url"),
        wrap_html(F.col("text")).alias("html"),
        F.lit(None).cast("string").alias("lang"),
    )
    return incremental_extract(
        spark, old_extracts, recrawled.unionByName(discovered), cfg
    )


def _oracle_incremental_extract() -> str:
    from .ops import URL_PREFIX, extract_case_sql as extract

    return f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
survivors AS (
  SELECT '{URL_PREFIX}' || doc_id AS url,
         {extract("CASE WHEN doc_id % 5 = 0 THEN 'UPDATED ' || text ELSE text END")}
           AS extracted_text
  FROM d WHERE doc_id % 17 <> 0),
discovered AS (
  SELECT '{URL_PREFIX}' || (doc_id + 1000000) AS url,
         {extract("text")} AS extracted_text
  FROM d WHERE doc_id % 7 = 0)
SELECT * FROM survivors UNION ALL SELECT * FROM discovered
"""


# ---------------------------------------------------------------------------
# Latest-snapshot-wins URL dedup — the CDX collapse
# ---------------------------------------------------------------------------

#: fixed epoch base for the synthesized crawl timestamps (BIGINT seconds —
#: integers sidestep every cross-engine timestamp/timezone trap).
_CRAWL_EPOCH = 1_700_000_000


def latest_per_url(snapshots: DataFrame) -> DataFrame:
    """Collapse a multi-snapshot crawl log to one row per url: the most
    recent fetch wins (Common Crawl's CDX collapse / the read side of
    `merge_upsert` when ALL history is retained). Input: (url, fetch_ts,
    digest) with fetch_ts unique per url (real crawlers guarantee this;
    the fixture constructs it). Reference analog: re-running OCR on a
    note REPLACES the field content (`api.py:128` convert_note_to_OCR
    rewrites in place) — last processing wins per note; here last fetch
    wins per url, made explicit as an aggregation.

    Scale shape: ``max_by`` is an ordinary partial-aggregatable function —
    map-side combine shrinks each partition to one candidate per url
    BEFORE the exchange, so the shuffle carries ~|urls| rows, not |fetches|.
    The window alternative (`row_number() over (partition by url order by
    fetch_ts desc) = 1`) shuffles EVERY fetch row and then sorts each
    key group — strictly worse at 10^12 fetch records. Over url-bucketed
    snapshot tables even the one exchange disappears."""
    return snapshots.groupBy("url").agg(
        F.max("fetch_ts").alias("last_ts"),
        F.max_by("digest", "fetch_ts").alias("latest_digest"),
        F.count("*").cast("bigint").alias("n_fetches"),
    )


def q_url_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: three synthesized crawl passes over the corpus —
    pass 0 fetches every page, pass 1 re-fetches the even doc_ids a day
    later, pass 2 re-fetches every third doc_id two days later with
    changed content — collapsed to latest-wins. fetch_ts = epoch +
    doc_id + pass·86400 is unique per url by construction, so the argmax
    is deterministic in both engines."""
    from .ops import doc_url, load

    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())

    def snap(pass_no: int, pred):
        body = (
            F.col("text")
            if pass_no == 0
            else F.concat(F.lit(f"v{pass_no} "), F.col("text"))
        )
        return docs.where(pred).select(
            doc_url(F.col("doc_id")).alias("url"),
            (F.col("doc_id") + _CRAWL_EPOCH + pass_no * 86400)
            .cast("bigint")
            .alias("fetch_ts"),
            F.md5(body).alias("digest"),
        )

    snapshots = (
        snap(0, F.lit(True))
        .unionByName(snap(1, F.col("doc_id") % 2 == 0))
        .unionByName(snap(2, F.col("doc_id") % 3 == 0))
    )
    return latest_per_url(snapshots)


def _oracle_url_latest() -> str:
    from .ops import URL_PREFIX

    return f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
snaps AS (
  SELECT '{URL_PREFIX}' || doc_id AS url,
         doc_id + {_CRAWL_EPOCH} AS fetch_ts, md5(text) AS digest FROM d
  UNION ALL
  SELECT '{URL_PREFIX}' || doc_id, doc_id + {_CRAWL_EPOCH} + 86400,
         md5('v1 ' || text) FROM d WHERE doc_id % 2 = 0
  UNION ALL
  SELECT '{URL_PREFIX}' || doc_id, doc_id + {_CRAWL_EPOCH} + 172800,
         md5('v2 ' || text) FROM d WHERE doc_id % 3 = 0)
SELECT url, max(fetch_ts)::BIGINT AS last_ts,
       max_by(digest, fetch_ts) AS latest_digest,
       count(*)::BIGINT AS n_fetches
FROM snaps GROUP BY url
"""


# ---------------------------------------------------------------------------
# The composed weekly-re-crawl story: delta → incremental extract → MERGE
# ---------------------------------------------------------------------------


def recrawl_pipeline(
    spark: SparkSession,
    old_pages: DataFrame,
    old_extracts: DataFrame,
    new_pages: DataFrame,
    cfg=None,
    table_prefix: str = "recrawl",
):
    """The weekly-re-crawl composition (VERDICT r4 #6), chaining the
    already-oracled stages:

      1. ``split_incremental`` routes the new snapshot against the old
         extract table by content digest — the SAME re-extract rule as
         ``incremental_extract``: added/changed pages, and re-crawled
         pages with NULL html, go to the kernel (which quarantines the
         latter as ``null_html`` rows); unchanged pages need nothing;
      2. the kernel runs on ONLY that slice (at 10^12 pages a weekly
         re-crawl changes a few percent, and extraction cost must scale
         with the delta, not the corpus);
      3. ``merge_upsert`` applies the fresh extracts to the old table
         over url-bucketed tables — zero-Exchange full-outer join,
         matched rows win wholesale, unchanged rows stay as they are and
         removed pages keep their last extract (MERGE without a DELETE
         clause: history-preserving, the CDX convention; a retention
         pass prunes separately).

    Returns ``(merged, to_extract)`` — the merged extract table and the
    relation the kernel actually ran on (so callers/tests can assert the
    delta-only contract). Scale shape: one digest join + one kernel pass
    over the delta + one bucketed zero-Exchange merge; the corpus text
    bytes move only for the pages the kernel re-extracts.

    Reference analog: re-running AnkiOCR over a collection re-OCRs every
    selected note unconditionally (`ocr.py:218-223` run_ocr_on_query);
    this is that re-run rebuilt with delta routing + transactional apply."""
    import os
    import tempfile

    from .job import run_extract

    base = tempfile.mkdtemp(prefix=f"{table_prefix}_")
    names = (f"{table_prefix}_target_q", f"{table_prefix}_delta_q")
    # write the TARGET first and build the routing's old side from the
    # WRITTEN table, not from old_extracts' lineage: old_extracts is
    # typically a lazy kernel plan (the fixture here; a fresh extract in
    # production), and Spark has no cross-action caching — deriving the
    # old side from the lineage would re-run the full-corpus kernel a
    # second time for the delta write. Reading the staged table back is
    # also exactly the production shape: the old extract table IS storage.
    spark.sql(f"DROP TABLE IF EXISTS {names[0]}")
    write_bucketed(
        old_extracts.select("url", "extracted_text"), names[0], buckets=8,
        key="url", path=os.path.join(base, names[0]),
    )
    old = spark.table(names[0]).join(
        old_pages.select("url", F.md5("html").alias("digest")), "url"
    )
    _, to_extract = split_incremental(old, new_pages)
    fresh = run_extract(spark, to_extract, cfg).select("url", "extracted_text")
    spark.sql(f"DROP TABLE IF EXISTS {names[1]}")
    write_bucketed(fresh, names[1], buckets=8, key="url",
                   path=os.path.join(base, names[1]))
    return merge_upsert(spark, *names), to_extract


def q_recrawl_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the full re-crawl round-trip over the shared delta
    fixture (every 17th page dropped, every 5th survivor rewritten with
    an 'UPDATED ' prefix, a new page per 7th doc). The merged table must
    equal the closed-form union of (full re-extract of the new snapshot)
    ∪ (old extracts of removed pages) — which is exactly what the oracle
    states. The old snapshot's extract table is synthesized by a kernel
    pass here (fixture necessity, like q_incremental_extract); production
    reads it from storage, so the only kernel cost is the delta."""
    from .config import ExtractConfig
    from .job import run_extract
    from .ops import doc_url, docs_as_pages, load, wrap_html

    cfg = ExtractConfig(salt_buckets=8)
    old_pages = docs_as_pages(spark, sf_dir).where(F.col("html").isNotNull())
    old_extracts = run_extract(spark, old_pages, cfg).select(
        "url", "extracted_text"
    )
    docs = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    survivors = docs.where(F.col("doc_id") % 17 != 0)
    recrawled = survivors.select(
        doc_url(F.col("doc_id")).alias("url"),
        wrap_html(
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.lit("UPDATED "), F.col("text"))
            ).otherwise(F.col("text"))
        ).alias("html"),
        F.lit(None).cast("string").alias("lang"),
    )
    discovered = docs.where(F.col("doc_id") % 7 == 0).select(
        doc_url(F.col("doc_id") + 1000000).alias("url"),
        wrap_html(F.col("text")).alias("html"),
        F.lit(None).cast("string").alias("lang"),
    )
    merged, _ = recrawl_pipeline(
        spark,
        old_pages,
        old_extracts,
        recrawled.unionByName(discovered),
        cfg,
    )
    return merged


def _oracle_recrawl_e2e() -> str:
    from .ops import URL_PREFIX, extract_case_sql as extract

    return f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
old AS (
  SELECT '{URL_PREFIX}' || doc_id AS url, {extract("text")} AS extracted_text
  FROM d),
new AS (
  SELECT '{URL_PREFIX}' || doc_id AS url,
         {extract("CASE WHEN doc_id % 5 = 0 THEN 'UPDATED ' || text ELSE text END")}
           AS extracted_text
  FROM d WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT '{URL_PREFIX}' || (doc_id + 1000000) AS url,
         {extract("text")} AS extracted_text
  FROM d WHERE doc_id % 7 = 0)
SELECT coalesce(new.url, old.url) AS url,
       CASE WHEN new.url IS NOT NULL THEN new.extracted_text
            ELSE old.extracted_text END AS extracted_text
FROM old FULL OUTER JOIN new ON old.url = new.url
"""


QUERIES = {
    "merge_upsert": q_merge_upsert,
    "recrawl_e2e": q_recrawl_e2e,
    "crawl_delta": q_crawl_delta,
    "url_latest": q_url_latest,
    "incremental_extract": q_incremental_extract,
}
ORACLE_SQL = {
    "merge_upsert": _oracle_merge_upsert(),
    "recrawl_e2e": _oracle_recrawl_e2e(),
    "crawl_delta": _oracle_crawl_delta(),
    "url_latest": _oracle_url_latest(),
    "incremental_extract": _oracle_incremental_extract(),
}
