"""Bucketed co-located joins: result parity with the plain join AND a
physical-plan assertion that the bucket-key join has zero shuffles."""

import pytest
from pyspark.sql import functions as F

from ankiocr_spark.bucketing import colocated_join, count_exchanges, write_bucketed


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    left = docs.select("doc_id", "lang", "n_chars")
    right = docs.select("doc_id", F.length("text").alias("text_len"))
    write_bucketed(left, "b_left", 4, "doc_id")
    write_bucketed(right, "b_right", 4, "doc_id")
    yield "b_left", "b_right"
    spark.sql("DROP TABLE IF EXISTS b_left")
    spark.sql("DROP TABLE IF EXISTS b_right")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    lt, rt = bucketed_tables
    # force SortMergeJoin so the Exchange question is meaningful
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, lt, rt, "doc_id")
        assert count_exchanges(joined) == 0, (
            joined._jdf.queryExecution().executedPlan().toString()[:2000]
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_join_matches_plain_join(spark, sf_dir, bucketed_tables):
    lt, rt = bucketed_tables
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plain = (
        docs.select("doc_id", "lang", "n_chars")
        .join(docs.select("doc_id", F.length("text").alias("text_len")), "doc_id")
    )
    bucketed = colocated_join(spark, lt, rt, "doc_id")
    a = sorted(map(tuple, bucketed.collect()))
    b = sorted(map(tuple, plain.collect()))
    assert a == b and len(a) == docs.count()


def test_unbucketed_join_does_shuffle(spark, sf_dir):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        joined = docs.select("doc_id", "lang").join(
            docs.select("doc_id", "n_chars"), "doc_id"
        )
        # at least one shuffle (the second side shows as ReusedExchange
        # since both scans read the same parquet)
        assert count_exchanges(joined) >= 1
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_merge_upsert_semantics_and_zero_exchange(spark, tmp_path):
    """The Iceberg MERGE analog: matched delta rows win wholesale, unmatched
    target rows survive, new delta rows insert — planned with zero Exchange
    over the same-bucketed tables (broadcast disabled so the SortMergeJoin
    actually exercises the bucketed co-location)."""
    from ankiocr_spark.bucketing import merge_upsert

    target = spark.createDataFrame(
        [("u1", "old1", "a"), ("u2", "old2", "b"), ("u3", None, "c")],
        "url string, extracted_text string, tag string",
    )
    delta = spark.createDataFrame(
        [("u2", "new2", None), ("u4", "new4", "d")],
        "url string, extracted_text string, tag string",
    )
    write_bucketed(target, "m_t", 4, "url")
    write_bucketed(delta, "m_d", 4, "url")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        merged = merge_upsert(spark, "m_t", "m_d")
        assert count_exchanges(merged) == 0, (
            merged._jdf.queryExecution().executedPlan().toString()[:2000]
        )
        got = {r["url"]: (r["extracted_text"], r["tag"]) for r in merged.collect()}
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS m_t")
        spark.sql("DROP TABLE IF EXISTS m_d")
    assert got == {
        "u1": ("old1", "a"),      # unmatched target kept
        "u2": ("new2", None),     # matched: delta row wins WHOLESALE
        "u3": (None, "c"),        # null target value preserved, no delta
        "u4": ("new4", "d"),      # insert
    }


def test_merge_upsert_rejects_duplicate_delta_keys(spark):
    """MERGE semantics (r3 review): multiple delta matches for one target
    row must error like Iceberg's runtime check, not silently fan out.
    Since r4 the guard rides the merge plan itself (one delta scan), so
    the error surfaces at ACTION time — the same point Iceberg's own
    multiple-match check fires — as a raise_error, not a ValueError."""
    from ankiocr_spark.bucketing import merge_upsert

    target = spark.createDataFrame([("u1", "old")], "url string, v string")
    delta = spark.createDataFrame(
        [("u1", "a"), ("u1", "b")], "url string, v string"
    )
    write_bucketed(target, "m_t2", 2, "url")
    write_bucketed(delta, "m_d2", 2, "url")
    try:
        with pytest.raises(Exception, match="duplicate"):
            merge_upsert(spark, "m_t2", "m_d2").count()
        # NULL keys never match the join condition, so duplicate NULLs
        # cannot fan out — the check must accept them (MERGE does)
        nulls = spark.createDataFrame(
            [(None, "x"), (None, "y")], "url string, v string"
        )
        write_bucketed(nulls, "m_d2n", 2, "url")
        assert merge_upsert(spark, "m_t2", "m_d2n").count() == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS m_t2")
        spark.sql("DROP TABLE IF EXISTS m_d2")
        spark.sql("DROP TABLE IF EXISTS m_d2n")


def test_crawl_delta_statuses(spark):
    from ankiocr_spark.bucketing import crawl_delta

    old = spark.createDataFrame(
        [("u1", "a"), ("u2", "b"), ("u3", "c")], "url string, digest string"
    )
    new = spark.createDataFrame(
        [("u2", "b"), ("u3", "X"), ("u4", "d")], "url string, digest string"
    )
    got = {r["url"]: r for r in crawl_delta(old, new).collect()}
    assert {u: r["status"] for u, r in got.items()} == {
        "u1": "removed",
        "u2": "unchanged",
        "u3": "changed",
        "u4": "added",
    }
    assert got["u1"]["new_digest"] is None and got["u1"]["old_digest"] == "a"
    assert got["u4"]["old_digest"] is None and got["u4"]["new_digest"] == "d"
    assert (got["u3"]["old_digest"], got["u3"]["new_digest"]) == ("c", "X")


def test_recrawl_pipeline_kernel_sees_only_the_delta(spark, sf_dir):
    """The composed re-crawl round-trip (VERDICT r4 #6): the crawl_delta
    routing must hand the kernel EXACTLY the added+changed slice, and the
    merged table must equal the closed-form full re-extract of the new
    snapshot plus the preserved extracts of removed pages."""
    import duckdb

    from ankiocr_spark.bucketing import q_recrawl_e2e, recrawl_pipeline
    from ankiocr_spark.config import ExtractConfig
    from ankiocr_spark.job import run_extract
    from ankiocr_spark.ops import doc_url, docs_as_pages, wrap_html
    from pyspark.sql import functions as SF

    n_docs, n_changed, n_added = duckdb.sql(
        f"""
        SELECT count(*),
               count(*) FILTER (doc_id % 17 <> 0 AND doc_id % 5 = 0),
               count(*) FILTER (doc_id % 7 = 0)
        FROM read_parquet('{sf_dir}/documents.parquet')
        WHERE text IS NOT NULL
        """
    ).fetchone()

    cfg = ExtractConfig(salt_buckets=8)
    old_pages = docs_as_pages(spark, sf_dir).where(SF.col("html").isNotNull())
    old_extracts = run_extract(spark, old_pages, cfg).select(
        "url", "extracted_text"
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        SF.col("text").isNotNull()
    )
    survivors = docs.where(SF.col("doc_id") % 17 != 0)
    recrawled = survivors.select(
        doc_url(SF.col("doc_id")).alias("url"),
        wrap_html(
            SF.when(
                SF.col("doc_id") % 5 == 0,
                SF.concat(SF.lit("UPDATED "), SF.col("text")),
            ).otherwise(SF.col("text"))
        ).alias("html"),
        SF.lit(None).cast("string").alias("lang"),
    )
    discovered = docs.where(SF.col("doc_id") % 7 == 0).select(
        doc_url(SF.col("doc_id") + 1000000).alias("url"),
        wrap_html(SF.col("text")).alias("html"),
        SF.lit(None).cast("string").alias("lang"),
    )
    merged, to_extract = recrawl_pipeline(
        spark,
        old_pages,
        old_extracts,
        recrawled.unionByName(discovered),
        cfg,
        table_prefix="recrawl_t",
    )
    try:
        # the kernel relation is exactly added + changed
        assert to_extract.count() == n_changed + n_added
        # merged = every old url (removed ones keep their extract) + inserts
        assert merged.count() == n_docs + n_added
        # and the driver query (same fixture) agrees with the composition
        assert q_recrawl_e2e(spark, sf_dir).count() == n_docs + n_added
    finally:
        for t in ("recrawl_t_target_q", "recrawl_t_delta_q",
                  "recrawl_target_q", "recrawl_delta_q"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_extract_kernel_sees_only_the_delta(spark, sf_dir):
    """The whole point of incremental extraction: the kernel input is the
    added/changed slice, never the full snapshot — and reusing old rows
    is value-identical to a full re-extract."""
    import duckdb

    from ankiocr_spark.bucketing import q_incremental_extract, split_incremental
    from ankiocr_spark.config import ExtractConfig
    from ankiocr_spark.job import run_extract
    from ankiocr_spark.ops import docs_as_pages

    n_docs, n_changed, n_added, n_unchanged = duckdb.sql(
        f"""
        SELECT count(*),
               count(*) FILTER (doc_id % 17 <> 0 AND doc_id % 5 = 0),
               count(*) FILTER (doc_id % 7 = 0),
               count(*) FILTER (doc_id % 17 <> 0 AND doc_id % 5 <> 0)
        FROM read_parquet('{sf_dir}/documents.parquet')
        WHERE text IS NOT NULL
        """
    ).fetchone()

    out = q_incremental_extract(spark, sf_dir)
    assert out.count() == n_unchanged + n_changed + n_added

    # split_incremental's to_extract relation is exactly the delta
    from pyspark.sql import functions as SF

    cfg = ExtractConfig(salt_buckets=8)
    old_pages = docs_as_pages(spark, sf_dir).where(SF.col("html").isNotNull())
    old_extracts = run_extract(spark, old_pages, cfg).select(
        "url", "extracted_text"
    ).join(old_pages.select("url", SF.md5("html").alias("digest")), "url")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        SF.col("text").isNotNull()
    )
    from ankiocr_spark.ops import doc_url, wrap_html

    survivors = docs.where(SF.col("doc_id") % 17 != 0)
    recrawled = survivors.select(
        doc_url(SF.col("doc_id")).alias("url"),
        wrap_html(
            SF.when(
                SF.col("doc_id") % 5 == 0,
                SF.concat(SF.lit("UPDATED "), SF.col("text")),
            ).otherwise(SF.col("text"))
        ).alias("html"),
        SF.lit(None).cast("string").alias("lang"),
    )
    discovered = docs.where(SF.col("doc_id") % 7 == 0).select(
        doc_url(SF.col("doc_id") + 1000000).alias("url"),
        wrap_html(SF.col("text")).alias("html"),
        SF.lit(None).cast("string").alias("lang"),
    )
    reuse, to_extract = split_incremental(
        old_extracts, recrawled.unionByName(discovered)
    )
    assert to_extract.count() == n_changed + n_added
    assert reuse.count() == n_unchanged


def test_recrawl_pipeline_null_html_recrawl_matches_incremental(spark):
    """A page re-crawled with NULL html routes to the kernel under the one
    re-extract rule, in the composed re-crawl exactly as in
    incremental_extract: its merged row is the kernel's null_html
    quarantine (no text), not the stale extract of the old snapshot."""
    from ankiocr_spark.bucketing import incremental_extract, recrawl_pipeline
    from ankiocr_spark.config import ExtractConfig
    from ankiocr_spark.job import run_extract

    body = "<html><body><p>%s</p></body></html>"
    schema = "url string, html binary"
    old_pages = spark.createDataFrame([
        ("u1", (body % ("old text of page one " * 3)).encode()),
        ("u2", (body % ("unchanged text of page two " * 3)).encode()),
    ], schema)
    new_pages = spark.createDataFrame([
        ("u1", None),
        ("u2", (body % ("unchanged text of page two " * 3)).encode()),
    ], schema)
    cfg = ExtractConfig(salt_buckets=2)
    old_extracts = run_extract(spark, old_pages, cfg).select(
        "url", "extracted_text"
    )
    merged, to_extract = recrawl_pipeline(
        spark, old_pages, old_extracts, new_pages, cfg,
        table_prefix="recrawl_null",
    )
    try:
        got = {r["url"]: r["extracted_text"] for r in merged.collect()}
        assert [r["url"] for r in to_extract.collect()] == ["u1"]
        incremental = incremental_extract(
            spark,
            old_extracts.join(
                old_pages.select("url", F.md5("html").alias("digest")), "url"
            ),
            new_pages,
            cfg,
        )
        want = {r["url"]: r["extracted_text"] for r in incremental.collect()}
        assert got == want
        assert got["u1"] is None
        assert got["u2"].startswith("unchanged text of page two")
    finally:
        for t in ("recrawl_null_target_q", "recrawl_null_delta_q"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_url_latest_picks_max_ts(spark, sf_dir):
    """Latest-wins against an independent recomputation: each url's
    winning digest must be the md5 of the HIGHEST-pass body that url
    received, and n_fetches must count its passes exactly."""
    import hashlib

    import duckdb

    from ankiocr_spark.bucketing import q_url_latest
    from ankiocr_spark.ops import URL_PREFIX

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') "
        "WHERE text IS NOT NULL"
    ).fetchall()
    expected = {}
    for doc_id, text in rows:
        passes = [(0, text)]
        if doc_id % 2 == 0:
            passes.append((1, "v1 " + text))
        if doc_id % 3 == 0:
            passes.append((2, "v2 " + text))
        last = max(passes)[1]
        expected[URL_PREFIX + str(doc_id)] = (
            hashlib.md5(last.encode()).hexdigest(),
            len(passes),
        )
    got = {
        r["url"]: (r["latest_digest"], r["n_fetches"])
        for r in q_url_latest(spark, sf_dir).collect()
    }
    assert got == expected


def test_url_latest_plan_partial_aggregates(spark, sf_dir):
    """The collapse must be ONE exchange with map-side partial max_by —
    never a Window sort over every fetch row (the shape that dies at
    10^12 fetch records)."""
    from ankiocr_spark.bucketing import q_url_latest

    plan = (
        q_url_latest(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert plan.count("Exchange") == 1
