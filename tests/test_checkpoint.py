"""Resumability: kill mid-run, resume, verify completed partitions are not
recomputed and the final table is identical (SURVEY.md §7 step 6)."""

import pytest
from pyspark.sql import functions as F

from ankiocr_spark.checkpoint import (
    completed_buckets,
    resumable_extract,
)
from ankiocr_spark.config import ExtractConfig
from ankiocr_spark.fixtures import pages_and_goldens
from ankiocr_spark.kernel import KERNEL_VERSION

N = 300
BUCKETS = 8


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ckpt") / "pages")
    pages, _ = pages_and_goldens(spark, N, seed=42)
    pages.write.parquet(d)
    return d


def test_kill_and_resume(spark, pages_dir, tmp_path):
    out = str(tmp_path / "out")
    ledger = str(tmp_path / "ledger")
    cfg = ExtractConfig(salt_buckets=BUCKETS, checkpoint_dir=ledger)

    # run 1: dies after 2 of 4 groups (the reference's cancel would lose
    # everything, ocr.py:104-105; here completed buckets survive)
    with pytest.raises(RuntimeError, match="simulated failure"):
        resumable_extract(spark, pages_dir, out, cfg,
                          bucket_groups=4, fail_after_groups=2)

    done_after_kill = completed_buckets(spark, ledger, BUCKETS)
    assert 0 < len(done_after_kill) < BUCKETS

    # run 2: resumes — must process ONLY the pending buckets
    summary = resumable_extract(spark, pages_dir, out, cfg, bucket_groups=4)
    assert summary["buckets_skipped"] == len(done_after_kill)
    assert summary["buckets_processed"] == BUCKETS - len(done_after_kill)

    # final table: every url exactly once, all buckets present
    result = spark.read.parquet(out)
    assert result.count() == N
    assert result.select("url").distinct().count() == N

    # ledger lineage: per-bucket metrics present; rows_out counts only
    # usable extracts, so rows_in - rows_out == n_errors per bucket (the
    # quarantine volume — a dead rows_out ≡ rows_in was the r5 review find)
    ledger_df = spark.read.parquet(ledger)
    per_bucket = ledger_df.where(F.col("status") == "done")
    assert sorted(r["bucket"] for r in per_bucket.select("bucket").distinct().collect()) == list(range(BUCKETS))
    bad = per_bucket.where(
        F.col("rows_in") != F.col("rows_out") + F.col("n_errors")
    )
    assert bad.count() == 0
    # the fixture plants null-html pages, so quarantine really bites
    assert per_bucket.agg(F.sum("n_errors")).first()[0] > 0
    assert per_bucket.where(F.col("kernel_version") != KERNEL_VERSION).count() == 0
    assert per_bucket.where(F.col("salt_buckets") != BUCKETS).count() == 0
    # two distinct run_ids prove the resume (lineage across runs)
    assert ledger_df.select("run_id").distinct().count() == 2

    # every counter equals an independent recount: rows_in/bytes_in from
    # the input under bucket_col, the rest from the written output
    from ankiocr_spark.job import bucket_col

    counters = ("rows_in", "bytes_in", "rows_out", "n_errors", "n_empty")
    ledger_counts = {
        r["bucket"]: tuple(r[c] for c in counters)
        for r in per_bucket.select("bucket", *counters).collect()
    }
    assert len(ledger_counts) == per_bucket.count() == BUCKETS
    inp = {
        r["bucket"]: (r["rows_in"], r["bytes_in"])
        for r in spark.read.parquet(pages_dir)
        .groupBy(bucket_col(F.col("url"), BUCKETS).alias("bucket"))
        .agg(
            F.count("*").alias("rows_in"),
            F.sum(F.coalesce(F.octet_length("html"), F.lit(0))).alias("bytes_in"),
        )
        .collect()
    }
    outp = {
        r["bucket"]: (r["rows_out"], r["n_errors"], r["n_empty"])
        for r in result.groupBy("bucket").agg(
            F.count_if(F.col("error").isNull()).alias("rows_out"),
            F.count_if(F.col("error").isNotNull()).alias("n_errors"),
            F.count_if(F.col("extracted_text") == "").alias("n_empty"),
        ).collect()
    }
    assert ledger_counts == {b: inp[b] + outp[b] for b in range(BUCKETS)}
    assert sum(v[4] for v in ledger_counts.values()) > 0  # empties planted


def test_resume_is_noop_when_complete(spark, pages_dir, tmp_path):
    out = str(tmp_path / "out2")
    cfg = ExtractConfig(salt_buckets=4, checkpoint_dir=str(tmp_path / "led2"))
    s1 = resumable_extract(spark, pages_dir, out, cfg, bucket_groups=2)
    assert s1["buckets_processed"] == 4
    s2 = resumable_extract(spark, pages_dir, out, cfg, bucket_groups=2)
    assert s2["buckets_processed"] == 0 and s2["buckets_skipped"] == 4


def test_resume_survives_static_overwrite_conf(spark, pages_dir, tmp_path):
    """Regression (round-1 VERDICT #3): under a caller-built session with
    the default partitionOverwriteMode=static, a resume previously WIPED
    completed buckets (mode('overwrite') replaced the whole table).
    resumable_extract must pin dynamic mode itself."""
    out = str(tmp_path / "out_static")
    ledger = str(tmp_path / "ledger_static")
    cfg = ExtractConfig(salt_buckets=BUCKETS, checkpoint_dir=ledger)

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
        with pytest.raises(RuntimeError, match="simulated failure"):
            resumable_extract(spark, pages_dir, out, cfg,
                              bucket_groups=4, fail_after_groups=2)
        # resume under a static-mode session: completed buckets must survive
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
        resumable_extract(spark, pages_dir, out, cfg, bucket_groups=4)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    result = spark.read.parquet(out)
    assert result.count() == N
    assert result.select("url").distinct().count() == N


def test_one_scan_per_group(spark, pages_dir, tmp_path):
    """Regression (round-1 VERDICT #4): the ledger metrics must ride the
    write job's single input scan (accumulator), not separate agg jobs.
    One bucket group ⇒ the write job + the ledger-append job only."""
    out = str(tmp_path / "out_jobs")
    cfg = ExtractConfig(salt_buckets=4, checkpoint_dir=str(tmp_path / "led_jobs"))
    sc = spark.sparkContext
    sc.setJobGroup("ckpt-one-scan", "count jobs per checkpoint group")
    try:
        resumable_extract(spark, pages_dir, out, cfg, bucket_groups=1)
    finally:
        sc.setJobGroup("", "")
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("ckpt-one-scan")
    # old shape: in-stats collect + write + out-stats collect + ledger ≥ 4
    assert len(jobs) <= 3, f"expected ≤3 jobs (write + ledger), got {len(jobs)}"
    # and the metrics are still real: rows_in matches the actual input
    led = spark.read.parquet(str(tmp_path / "led_jobs"))
    assert led.agg(F.sum("rows_in")).collect()[0][0] == N
    assert led.agg(F.sum("bytes_in")).collect()[0][0] > 0


def test_kernel_version_change_invalidates_ledger(spark, pages_dir, tmp_path):
    """A kernel upgrade must force recomputation: ledger rows written by a
    different kernel_version do not count as completed (the lineage
    guarantee — stale extracts cannot survive a kernel change)."""
    out = str(tmp_path / "out_kv")
    ledger = str(tmp_path / "ledger_kv")
    cfg = ExtractConfig(salt_buckets=4, checkpoint_dir=ledger)

    s1 = resumable_extract(spark, pages_dir, out, cfg, bucket_groups=2)
    assert s1["buckets_processed"] == 4

    # forge a ledger written by an older kernel
    old = spark.read.parquet(ledger)
    forged = old.withColumn("kernel_version", F.lit("000000000000"))
    forged.write.mode("overwrite").parquet(str(tmp_path / "ledger_forged"))
    cfg2 = ExtractConfig(
        salt_buckets=4, checkpoint_dir=str(tmp_path / "ledger_forged")
    )

    s2 = resumable_extract(spark, pages_dir, out, cfg2, bucket_groups=2)
    assert s2["buckets_skipped"] == 0
    assert s2["buckets_processed"] == 4  # everything recomputed

    # and with the genuine ledger the same call is a no-op
    s3 = resumable_extract(spark, pages_dir, out, cfg, bucket_groups=2)
    assert s3["buckets_processed"] == 0 and s3["buckets_skipped"] == 4


def test_config_parity_with_extract_job(spark, pages_dir, tmp_path):
    """ADVICE r2 (medium): resumable_extract must honor the SAME config the
    batch job does — a checkpointed run with preserve_interword_spaces set
    previously extracted with defaults, silently diverging from extract_job
    under the identical ExtractConfig. Parity is asserted value-for-value."""
    from ankiocr_spark.job import extract_job

    # fixture pages plus one page with a literal space run, so the knob's
    # effect is observable in the output
    spaced = str(tmp_path / "pages_spaced")
    pages = spark.read.parquet(pages_dir).unionByName(
        spark.createDataFrame(
            [("https://spaced.example/x", None,
              b"<p>columnar   layout   preserved by the interword flag</p>",
              None, "en")],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
    )
    pages.write.parquet(spaced)

    cfg_kwargs = dict(
        salt_buckets=4, preserve_interword_spaces=True,
        lang_filter=["en", "eng"],
    )
    out_ckpt = str(tmp_path / "out_ckpt")
    out_batch = str(tmp_path / "out_batch")
    resumable_extract(
        spark, spaced, out_ckpt,
        ExtractConfig(checkpoint_dir=str(tmp_path / "led"), **cfg_kwargs),
        bucket_groups=2,
    )
    extract_job(spark, spaced, out_batch, ExtractConfig(**cfg_kwargs))
    a = {r["url"]: r["extracted_text"]
         for r in spark.read.parquet(out_ckpt).collect()}
    b = {r["url"]: r["extracted_text"]
         for r in spark.read.parquet(out_batch).collect()}
    assert a == b
    assert "columnar   layout   preserved" in a["https://spaced.example/x"]
    assert len(a) == pages.where(F.col("lang").isin("en", "eng")).count() < N
    # and without the knob the space runs collapse (defaults differ)
    resumable_extract(
        spark, spaced, str(tmp_path / "out_plain"),
        ExtractConfig(checkpoint_dir=str(tmp_path / "led2"), salt_buckets=4),
        bucket_groups=2,
    )
    plain = {r["url"]: r["extracted_text"]
             for r in spark.read.parquet(str(tmp_path / "out_plain")).collect()}
    assert plain["https://spaced.example/x"] == \
        "columnar layout preserved by the interword flag"


def test_unsupported_config_raises(spark, pages_dir, tmp_path):
    """extra_passthrough_cols and speculative execution are rejected up
    front (the spans-mode-guard pattern) instead of silently ignored."""
    with pytest.raises(ValueError, match="extra_passthrough_cols"):
        resumable_extract(
            spark, pages_dir, str(tmp_path / "o1"),
            ExtractConfig(extra_passthrough_cols=["lang"]),
        )
    # spark.speculation is a STATIC conf (conf.set raises
    # CANNOT_MODIFY_CONFIG at runtime), so the in-job guard only ever needs
    # to hold at session construction — assert the guarded invariant here
    assert spark.conf.get("spark.speculation", "false") == "false"


def test_salt_bucket_change_invalidates_ledger(spark, pages_dir, tmp_path):
    """A changed bucket count must force recomputation (r5 review):
    bucket ids are only meaningful modulo the count they were hashed
    with. Three holes this covers, each a live-reproduced review find:
    grow (mod-4 ledger consulted by a mod-8 run would duplicate rows),
    A→B→A (the first A-epoch's 'done' rows must NOT satisfy a new A run
    after B rewrote the layout — epoch rule), and shrink (dynamic
    overwrite never touches partitions numbered past the new count, so
    they must be cleared explicitly or every url they hold appears
    twice)."""
    import os

    out = str(tmp_path / "out_sb")
    ledger = str(tmp_path / "ledger_sb")
    s1 = resumable_extract(
        spark, pages_dir, out,
        ExtractConfig(salt_buckets=4, checkpoint_dir=ledger), bucket_groups=2,
    )
    assert s1["buckets_processed"] == 4

    # grow: same ledger, larger count → nothing counts as completed
    s2 = resumable_extract(
        spark, pages_dir, out,
        ExtractConfig(salt_buckets=8, checkpoint_dir=ledger), bucket_groups=2,
    )
    assert s2["buckets_skipped"] == 0
    assert s2["buckets_processed"] == 8
    result = spark.read.parquet(out)
    assert result.count() == N
    assert result.select("url").distinct().count() == N

    # A→B→A: the table on disk is mod-8 now, so the ORIGINAL count must
    # fully recompute too — its old epoch's ledger rows are dead (a
    # skip-everything 'resume' here was the review's third find) — and
    # the shrink must clear partitions bucket=4..7, or their urls would
    # double next to the rewritten mod-4 layout
    s3 = resumable_extract(
        spark, pages_dir, out,
        ExtractConfig(salt_buckets=4, checkpoint_dir=ledger), bucket_groups=2,
    )
    assert s3["buckets_skipped"] == 0
    assert s3["buckets_processed"] == 4
    stale = [
        d for d in os.listdir(out)
        if d.startswith("bucket=") and int(d.split("=")[1]) >= 4
    ]
    assert stale == []
    result = spark.read.parquet(out)
    assert result.count() == N
    assert result.select("url").distinct().count() == N
    assert result.select("bucket").distinct().count() == 4

    # and a genuine same-count resume still no-ops (the epoch rule must
    # not over-invalidate)
    s4 = resumable_extract(
        spark, pages_dir, out,
        ExtractConfig(salt_buckets=4, checkpoint_dir=ledger), bucket_groups=2,
    )
    assert s4["buckets_processed"] == 0 and s4["buckets_skipped"] == 4


def test_pre_upgrade_ledger_reads_as_invalidated(spark, pages_dir, tmp_path):
    """A ledger written BEFORE the salt_buckets column existed must read
    as not-completed (NULL column under the explicit schema → full
    recompute), never crash with UNRESOLVED_COLUMN (r5 review find)."""
    import datetime as dt

    ledger = str(tmp_path / "old_ledger")
    old_schema = (
        "run_id string, kernel_version string, bucket int, status string, "
        "rows_in long, rows_out long, n_errors long, n_empty long, "
        "bytes_in long, started timestamp, finished timestamp"
    )
    now = dt.datetime.now()
    spark.createDataFrame(
        [("old", KERNEL_VERSION, b, "done", 10, 10, 0, 0, 100, now, now)
         for b in range(4)],
        old_schema,
    ).write.parquet(ledger)

    assert completed_buckets(spark, ledger, 4) == []

    # and a real run over that directory resumes into a full recompute
    out = str(tmp_path / "out_old")
    s = resumable_extract(
        spark, pages_dir, out,
        ExtractConfig(salt_buckets=4, checkpoint_dir=ledger), bucket_groups=2,
    )
    assert s["buckets_processed"] == 4 and s["buckets_skipped"] == 0


def test_epoch_marker_protects_crash_window(spark, pages_dir, tmp_path):
    """Crash-safety of the epoch transition (review find): a run under a
    NEW bucket count writes its 'layout' marker row BEFORE clearing
    partitions or writing groups. If it then dies before its first
    per-group ledger append, a revert to the OLD count must see the
    marker as the ledger tail and recompute fully — without the marker
    the old count's 'done' rows would still be the tail and the revert
    would skip everything over a half-mutated table (here: partitions
    4..7 already deleted by the crashed shrink)."""
    import datetime as dt

    from ankiocr_spark.checkpoint import (
        _append_ledger,
        _clear_stale_bucket_partitions,
    )

    out = str(tmp_path / "out_cw")
    ledger = str(tmp_path / "ledger_cw")
    s1 = resumable_extract(
        spark, pages_dir, out,
        ExtractConfig(salt_buckets=8, checkpoint_dir=ledger), bucket_groups=2,
    )
    assert s1["buckets_processed"] == 8

    # simulate a shrink-to-4 run that died right after its destructive
    # prologue (marker + stale-partition clear), before any group write
    now = dt.datetime.now()
    _append_ledger(spark, ledger, [
        ("crashed", KERNEL_VERSION, 4, -1, "layout", 0, 0, 0, 0, 0, now, now)
    ])
    _clear_stale_bucket_partitions(out, 4)
    assert completed_buckets(spark, ledger, 8) == []  # marker invalidates

    # revert to 8: must be a FULL recompute (skipping would report
    # success over a table missing partitions 4..7)
    s2 = resumable_extract(
        spark, pages_dir, out,
        ExtractConfig(salt_buckets=8, checkpoint_dir=ledger), bucket_groups=2,
    )
    assert s2["buckets_skipped"] == 0 and s2["buckets_processed"] == 8
    result = spark.read.parquet(out)
    assert result.count() == N
    assert result.select("url").distinct().count() == N
    assert result.select("bucket").distinct().count() == 8


def test_kernel_rollback_invalidates_ledger(spark, pages_dir, tmp_path):
    """kernel_version gets the SAME epoch rule as the bucket count
    (review find: v1→v2→v1 rollback previously resumed as fully done
    against v2-produced output): after a full run under a different
    kernel, a resume under the current kernel must recompute even though
    the ledger still holds current-kernel 'done' rows from before."""
    import datetime as dt

    from ankiocr_spark.checkpoint import _append_ledger

    out = str(tmp_path / "out_kr")
    ledger = str(tmp_path / "ledger_kr")
    s1 = resumable_extract(
        spark, pages_dir, out,
        ExtractConfig(salt_buckets=4, checkpoint_dir=ledger), bucket_groups=2,
    )
    assert s1["buckets_processed"] == 4

    # forge a LATER full run by a different kernel (the v2 deploy)
    now = dt.datetime.now()
    _append_ledger(spark, ledger, [
        ("v2run", "ffffffffffff", 4, b, "done", 10, 10, 0, 0, 100, now, now)
        for b in range(4)
    ])

    # rollback resume under the current kernel: the v2 tail must clear
    # the earlier current-kernel rows → full recompute
    assert completed_buckets(spark, ledger, 4) == []
    s2 = resumable_extract(
        spark, pages_dir, out,
        ExtractConfig(salt_buckets=4, checkpoint_dir=ledger), bucket_groups=2,
    )
    assert s2["buckets_skipped"] == 0 and s2["buckets_processed"] == 4
    # and the rollback run's rows re-validate the ledger for a no-op next
    s3 = resumable_extract(
        spark, pages_dir, out,
        ExtractConfig(salt_buckets=4, checkpoint_dir=ledger), bucket_groups=2,
    )
    assert s3["buckets_processed"] == 0 and s3["buckets_skipped"] == 4
