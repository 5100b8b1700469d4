"""End-to-end extraction job tests — the analog of the reference's pipeline
tests over a fresh template collection (/root/reference/tests/test_ocr.py:80-125):
build the pages table fresh, run the job, assert per-url byte equality vs
goldens, exercise the mode matrix and error quarantine."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ankiocr_spark.config import ExtractConfig
from ankiocr_spark.fixtures import pages_and_goldens
from ankiocr_spark.job import run_extract, extract_job
from ankiocr_spark.kernel import extract_main_text

N_PAGES = 400


@pytest.fixture(scope="module")
def pages_goldens(spark):
    return pages_and_goldens(spark, N_PAGES, seed=42)


def _mismatches(extracted, goldens):
    joined = extracted.join(goldens, "url", "full")
    return joined.where(
        ~(
            F.col("extracted_text").eqNullSafe(F.col("expected_text"))
        )
    )


def test_extract_matches_goldens(spark, pages_goldens):
    pages, goldens = pages_goldens
    out = run_extract(spark, pages, ExtractConfig(salt_buckets=8))
    bad = _mismatches(out, goldens)
    assert bad.count() == 0, bad.limit(5).toPandas().to_dict("records")
    assert out.count() == N_PAGES  # every input row accounted for


def test_error_quarantine(spark, pages_goldens):
    pages, _ = pages_goldens
    out = run_extract(spark, pages, ExtractConfig(salt_buckets=8)).cache()
    null_rows = out.where(F.col("error") == "null_html")
    assert null_rows.count() == N_PAGES // 89 + (1 if N_PAGES % 89 >= 89 else 0) or null_rows.count() > 0
    assert out.where(F.col("error").isNotNull()).count() == null_rows.count()
    out.unpersist()


def test_mode_matrix_batch_and_salt_invariance(spark, pages_goldens):
    """Results must be identical across Arrow batch sizes and salt bucket
    counts (the reference's batched/unbatched × threads matrix,
    test_ocr.py:87-109, recast as physical-plan invariance)."""
    pages, _ = pages_goldens
    a = run_extract(spark, pages, ExtractConfig(batch_rows=16, salt_buckets=4))
    b = run_extract(spark, pages, ExtractConfig(batch_rows=512, salt_buckets=32))
    diff = a.select("url", "extracted_text").exceptAll(
        b.select("url", "extracted_text")
    )
    assert diff.count() == 0


def test_rowwise_oracle_agreement(spark, pages_goldens):
    """Batched Arrow kernel vs a row-at-a-time driver-side oracle — the
    unbatched execution mode kept only as a correctness oracle
    (SURVEY.md §2 row 22)."""
    pages, _ = pages_goldens
    sample = pages.limit(50).collect()
    oracle = {
        r["url"]: (extract_main_text(r["html"]) if r["html"] is not None else None)
        for r in sample
    }
    got = {
        r["url"]: r["extracted_text"]
        for r in run_extract(spark, pages, ExtractConfig(salt_buckets=8))
        .where(F.col("url").isin(list(oracle)))
        .collect()
    }
    assert got == oracle


def test_spans_mode(spark, pages_goldens):
    pages, goldens = pages_goldens
    spans = run_extract(spark, pages, ExtractConfig(output_mode="spans", salt_buckets=8))
    # reassembling kept spans in block order must reproduce the flagship text
    reassembled = (
        spans.where(F.col("kept"))
        .groupBy("url")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("block_id", "text"))),
                    lambda s: s["text"],
                ),
                "\n",
            ).alias("joined")
        )
        .selectExpr(
            "url",
            "regexp_replace(array_join(filter(transform(split(joined, '\\n'), x -> trim(x)), x -> x != ''), '\\n'), ':+', ':') as extracted_text",
        )
    )
    nonempty_goldens = goldens.where(
        F.col("expected_text").isNotNull() & (F.col("expected_text") != "")
    )
    joined = nonempty_goldens.join(reassembled, "url", "left")
    bad = joined.where(~F.col("extracted_text").eqNullSafe(F.col("expected_text")))
    assert bad.count() == 0, bad.limit(5).toPandas().to_dict("records")


def test_page_rows_skips_null_and_raising_pages(spark):
    """The one page→many-rows stage: a NULL-html page and a page whose
    row function raises add no rows; every other page's rows come out
    in order, with the schema's column names."""
    from ankiocr_spark.job import page_rows

    def fn(url, html):
        if html == b"boom":
            raise ValueError("malformed page")
        return [(url, i, html.decode()) for i in range(2)]

    pages = spark.createDataFrame(
        [("a", b"x"), ("b", None), ("c", b"boom"), ("d", b"y")],
        "url string, html binary",
    ).coalesce(1)
    out = page_rows(pages, fn, "url string, i int, body string")
    assert out.columns == ["url", "i", "body"]
    assert [tuple(r) for r in out.collect()] == [
        ("a", 0, "x"), ("a", 1, "x"), ("d", 0, "y"), ("d", 1, "y"),
    ]


def test_extract_job_end_to_end(spark, tmp_path, pages_goldens):
    """Full job: write pages parquet → extract_job → partitioned output →
    byte-identical per-url vs goldens (the spark-submit contract, §3.2)."""
    pages, goldens = pages_goldens
    in_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "extracted")
    pages.write.parquet(in_dir)
    extract_job(spark, in_dir, out_dir, ExtractConfig(salt_buckets=8))
    result = spark.read.parquet(out_dir)
    assert "bucket" in result.columns  # partition-local output layout
    bad = _mismatches(result, goldens)
    assert bad.count() == 0
    # bucket values must match the salt formula (resume/merge contract)
    recheck = result.where(
        F.col("bucket") != F.pmod(F.xxhash64("url"), F.lit(8)).cast("int")
    )
    assert recheck.count() == 0


def test_extract_job_output_not_fragmented(spark, tmp_path, pages_goldens):
    """Regression (round-1 ADVICE): with the map-only hot path, every scan
    task could emit a file per bucket → O(tasks × buckets) small files.
    extract_job clusters by bucket pre-write, capping data files at
    salt_buckets."""
    import glob

    pages, _ = pages_goldens
    in_dir = str(tmp_path / "pages_frag")
    out_dir = str(tmp_path / "out_frag")
    # many input files → many scan tasks
    pages.repartition(16).write.parquet(in_dir)
    extract_job(spark, in_dir, out_dir, ExtractConfig(salt_buckets=8))
    data_files = glob.glob(f"{out_dir}/bucket=*/*.parquet")
    assert 0 < len(data_files) <= 8, f"{len(data_files)} files"


@pytest.mark.parametrize("scheme", ["", "file:"])
def test_extract_job_rerun_with_fewer_buckets_leaves_no_stale_partition(
    spark, tmp_path, pages_goldens, scheme
):
    """Regression: dynamic overwrite replaces only the partitions a run
    writes, so an 8→4 bucket re-run kept bucket=4..7 and read 302 rows
    for 200 urls. The re-run clears them, also behind a ``file:`` URI."""
    import os

    pages, goldens = pages_goldens
    in_dir = str(tmp_path / "pages_shrink")
    out_dir = str(tmp_path / "out_shrink")
    pages.write.parquet(in_dir)
    for n in (8, 4):
        extract_job(spark, in_dir, scheme + out_dir, ExtractConfig(salt_buckets=n))
    assert sorted(d for d in os.listdir(out_dir) if d.startswith("bucket=")) == [
        f"bucket={b}" for b in range(4)
    ]
    result = spark.read.parquet(out_dir)
    assert result.count() == result.select("url").distinct().count() == N_PAGES
    assert _mismatches(result, goldens).count() == 0


def test_extract_job_rejects_an_unopenable_output_before_writing(
    spark, tmp_path, pages_goldens
):
    """An output uri no filesystem here can open fails before the write,
    not after it with the stale partitions left in place."""
    pages, _ = pages_goldens
    in_dir = str(tmp_path / "pages_scheme")
    pages.write.parquet(in_dir)
    sc = spark.sparkContext
    sc.setJobGroup("job-bad-scheme", "extract_job into an unknown scheme")
    try:
        with pytest.raises(Exception, match="nosuchfs"):
            extract_job(spark, in_dir, "nosuchfs://h/out", ExtractConfig())
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("job-bad-scheme") == []


def test_passthrough_and_preserve_spaces(spark):
    """extra_passthrough_cols rides the Arrow batch (positional rejoin, no
    join); preserve_interword_spaces threads config → kernel."""
    rows = [
        ("u1", b"<p>two  spaces   kept in this long enough paragraph</p>", "eng"),
        ("u2", b"<p>another sufficiently long paragraph for the floor</p>", "deu"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary, lang string")
    out = run_extract(
        spark,
        pages,
        ExtractConfig(
            salt_buckets=2,
            extra_passthrough_cols=["lang"],
            preserve_interword_spaces=True,
        ),
    )
    got = {r["url"]: (r["extracted_text"], r["lang"]) for r in out.collect()}
    assert got["u1"] == ("two  spaces   kept in this long enough paragraph", "eng")
    assert got["u2"] == ("another sufficiently long paragraph for the floor", "deu")
    # spans mode rejects passthrough explicitly
    with pytest.raises(ValueError, match="passthrough"):
        run_extract(
            spark,
            pages,
            ExtractConfig(output_mode="spans", extra_passthrough_cols=["lang"]),
        )


def test_lang_filter_pushdown(spark, pages_goldens):
    pages, _ = pages_goldens
    out = run_extract(spark, pages, ExtractConfig(lang_filter=["eng"], salt_buckets=4))
    n_eng = pages.where(F.col("lang") == "eng").count()
    assert out.count() == n_eng


def test_extract_plan_prunes_and_pushes(spark, tmp_path, pages_goldens):
    """Physical-plan contract of the hot path (SURVEY §4): the parquet scan
    must read ONLY (url, html) — the binary payload plus key, nothing else —
    and the lang filter must reach the scan as a pushed filter."""
    pages, _ = pages_goldens
    in_dir = str(tmp_path / "pages_plan")
    pages.write.parquet(in_dir)
    src = spark.read.parquet(in_dir)
    plan = (
        run_extract(spark, src, ExtractConfig(lang_filter=["eng"], salt_buckets=4))
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = sorted(c.split(":")[0] for c in m.group(1).split(",") if c)
    assert read_cols == ["html", "lang", "url"], read_cols  # no text, no warc_ts
    assert "PushedFilters: [" in plan and "lang" in plan.split("PushedFilters:")[1].split("]")[0]
    # and no filter → full scan reads exactly (url, html)
    plan2 = (
        run_extract(spark, src, ExtractConfig(salt_buckets=4))
        ._jdf.queryExecution().executedPlan().toString()
    )
    m2 = re.search(r"ReadSchema: struct<([^>]*)>", plan2)
    cols2 = sorted(c.split(":")[0] for c in m2.group(1).split(",") if c)
    assert cols2 == ["html", "url"], cols2
