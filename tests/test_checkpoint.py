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
    write job's single input scan (accumulator), not separate agg jobs,
    and the ledger is read and appended on the driver. One bucket group ⇒
    the input schema read + the write job only."""
    out = str(tmp_path / "out_jobs")
    cfg = ExtractConfig(salt_buckets=4, checkpoint_dir=str(tmp_path / "led_jobs"))
    sc = spark.sparkContext
    sc.setJobGroup("ckpt-one-scan", "count jobs per checkpoint group")
    try:
        resumable_extract(spark, pages_dir, out, cfg, bucket_groups=1)
    finally:
        sc.setJobGroup("", "")
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("ckpt-one-scan")
    # in/out-stats collects, or a ledger append or epoch read run as a
    # Spark job, would each add one
    assert len(jobs) <= 2, f"expected ≤2 jobs (schema read + write), got {len(jobs)}"
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


def test_resume_under_flipped_preserve_spaces_recomputes(spark, tmp_path):
    """The epoch key covers the settings that shape the extracts: a run
    killed with preserve_interword_spaces off and resumed with it on must
    recompute every bucket, so the table never mixes collapsed and
    preserved extracts of the two configs."""
    from ankiocr_spark.kernel import extract_main_text

    pages = [
        (f"u{i}", f"<p>page {i} keeps  two   spaces in a long paragraph</p>".encode())
        for i in range(40)
    ]
    pages_dir = str(tmp_path / "pages_ws")
    spark.createDataFrame(pages, "url string, html binary").write.parquet(pages_dir)
    out = str(tmp_path / "out_ws")
    ledger = str(tmp_path / "ledger_ws")
    off = ExtractConfig(salt_buckets=4, checkpoint_dir=ledger)
    with pytest.raises(RuntimeError, match="simulated failure"):
        resumable_extract(spark, pages_dir, out, off,
                          bucket_groups=2, fail_after_groups=1)
    assert len(completed_buckets(spark, ledger, 4)) == 2

    on = ExtractConfig(salt_buckets=4, checkpoint_dir=ledger,
                       preserve_interword_spaces=True)
    s = resumable_extract(spark, pages_dir, out, on, bucket_groups=2)
    assert s["buckets_skipped"] == 0 and s["buckets_processed"] == 4
    got = {r["url"]: r["extracted_text"] for r in spark.read.parquet(out).collect()}
    assert got == {
        u: extract_main_text(h, preserve_spaces=True) for u, h in pages
    }
    # the preserved-spaces epoch has its own key; the default one is gone
    assert completed_buckets(spark, ledger, 4) == []
    keys = {r[0] for r in spark.read.parquet(ledger).where(
        F.col("status") == "done").select("kernel_version").collect()}
    assert keys == {KERNEL_VERSION, KERNEL_VERSION + "+preserve_interword_spaces"}


def test_epoch_key_names_the_output_shaping_settings():
    """A default config's key is the bare kernel version (so ledgers from
    before the key grew settings stay current); each output-shaping
    setting gets its own key, the language list order-insensitively."""
    from ankiocr_spark.checkpoint import epoch_key

    assert epoch_key(ExtractConfig()) == KERNEL_VERSION
    assert epoch_key(ExtractConfig(lang_filter=[])) == KERNEL_VERSION
    keys = {
        epoch_key(ExtractConfig(preserve_interword_spaces=True)),
        epoch_key(ExtractConfig(lang_filter=["eng", "deu"])),
        epoch_key(ExtractConfig(lang_filter=["eng"])),
        epoch_key(ExtractConfig(preserve_interword_spaces=True,
                                lang_filter=["eng"])),
    }
    assert len(keys) == 4 and KERNEL_VERSION not in keys
    assert epoch_key(ExtractConfig(lang_filter=["deu", "eng"])) == epoch_key(
        ExtractConfig(lang_filter=["eng", "deu"])
    )
    # settings that do not change the extracts keep the key
    assert epoch_key(ExtractConfig(batch_rows=7, presalt_shuffle=True)) == (
        KERNEL_VERSION
    )


def test_kernel_version_covers_textclean(tmp_path):
    """clean_text shapes every extract, so an edit to textclean.py must
    change KERNEL_VERSION — and so invalidate ledger lineage — just as an
    edit to kernel.py does. Each version is read by a fresh interpreter
    over a copy of the two modules."""
    import shutil
    import subprocess
    import sys

    from ankiocr_spark import kernel, textclean

    def version(copy: str, edit_textclean: bool) -> str:
        pkg = tmp_path / copy / "ankiocr_spark"
        pkg.mkdir(parents=True)
        (pkg / "__init__.py").write_text("")
        for mod in (kernel, textclean):
            shutil.copy(mod.__file__, pkg)
        if edit_textclean:
            with open(pkg / "textclean.py", "a") as fh:
                fh.write("\n# an edit\n")
        out = subprocess.run(
            [sys.executable, "-c", "from ankiocr_spark import kernel; "
             "print(kernel.KERNEL_VERSION, kernel.__file__)"],
            cwd=pkg.parent, capture_output=True, text=True, check=True,
        ).stdout.split()
        assert out[1].startswith(str(pkg))  # the copy, not the repo
        return out[0]

    assert version("same", False) == KERNEL_VERSION  # content, not path
    assert version("edited", True) != KERNEL_VERSION


def test_resume_reads_the_ledger_once(spark, pages_dir, tmp_path, monkeypatch):
    """One ledger read per resumable_extract call answers both the skip
    set and the epoch-marker decision."""
    from ankiocr_spark import checkpoint

    reads = []
    real = checkpoint._epoch_rows
    monkeypatch.setattr(
        checkpoint, "_epoch_rows", lambda *a: reads.append(a) or real(*a)
    )
    cfg = ExtractConfig(salt_buckets=2, checkpoint_dir=str(tmp_path / "led1"))
    out = str(tmp_path / "out1")
    resumable_extract(spark, pages_dir, out, cfg, bucket_groups=1)
    assert len(reads) == 1
    # a resume under a new bucket count: skip set AND marker, still one read
    cfg4 = ExtractConfig(salt_buckets=4, checkpoint_dir=cfg.checkpoint_dir)
    s = resumable_extract(spark, pages_dir, out, cfg4, bucket_groups=1)
    assert len(reads) == 2 and s["buckets_processed"] == 4
    assert spark.read.parquet(cfg.checkpoint_dir).where(
        (F.col("status") == "layout") & (F.col("salt_buckets") == 4)
    ).count() == 1


def test_resume_runs_only_the_groups_the_kill_left(
    spark, pages_dir, tmp_path, monkeypatch
):
    """Groups are fixed slices of bucket ids: after a kill at k of G groups
    the resume commits exactly the G - k slices left, one ledger append
    (and one input rescan) each, instead of re-dealing the pending buckets
    over G smaller groups."""
    from ankiocr_spark import checkpoint

    G, k = 4, 1
    done_appends = []
    real = checkpoint._append_ledger

    def spy(spark_, ledger_dir, rows):
        # LEDGER_SCHEMA order: column 3 is bucket, column 4 status
        done_appends.append([r[3] for r in rows if r[4] == "done"])
        real(spark_, ledger_dir, rows)

    monkeypatch.setattr(checkpoint, "_append_ledger", spy)
    cfg = ExtractConfig(salt_buckets=BUCKETS,
                        checkpoint_dir=str(tmp_path / "led_g"))
    out = str(tmp_path / "out_g")
    with pytest.raises(RuntimeError, match="simulated failure"):
        resumable_extract(spark, pages_dir, out, cfg,
                          bucket_groups=G, fail_after_groups=k)
    killed = [g for g in done_appends if g]
    done_appends.clear()
    resumable_extract(spark, pages_dir, out, cfg, bucket_groups=G)
    resumed = [g for g in done_appends if g]

    slices = [list(range(BUCKETS))[i::G] for i in range(G)]
    assert len(killed) == k and len(resumed) == G - k
    assert sorted(killed + resumed) == slices
    result = spark.read.parquet(out)
    assert result.count() == result.select("url").distinct().count() == N


def _ledger_rows(now):
    return [("r", KERNEL_VERSION, 4, b, "done", 10, 9, 1, 0, 100, now, now)
            for b in range(4)]


def test_ledger_append_and_epoch_read_start_no_spark_job(spark, tmp_path):
    """A ledger commit and an epoch read are driver-side pyarrow file ops:
    the status tracker sees no job for either."""
    import datetime as dt

    from ankiocr_spark.checkpoint import _append_ledger, _epoch_rows

    ledger = str(tmp_path / "led_nojob")
    sc = spark.sparkContext
    sc.setJobGroup("ckpt-ledger-io", "ledger append and read")
    try:
        _append_ledger(spark, ledger, _ledger_rows(dt.datetime.now()))
        rows = _epoch_rows(spark, ledger)
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("ckpt-ledger-io") == []
    assert sorted(r["bucket"] for r in rows) == [0, 1, 2, 3]
    assert completed_buckets(spark, ledger, 4) == [0, 1, 2, 3]


def _spark_epoch_rows(spark, ledger_dir):
    """The epoch read as a Spark job collected it: the reference the
    driver-side pyarrow read must agree with."""
    import datetime as dt

    from ankiocr_spark.checkpoint import read_ledger

    ledger = read_ledger(spark, ledger_dir)
    rows = [] if ledger is None else ledger.select(
        "kernel_version", "salt_buckets", "bucket", "status", "finished"
    ).collect()
    rows.sort(key=lambda r: (r["finished"] is not None, r["finished"] or dt.datetime.min))
    return rows


def test_spark_written_ledger_gives_the_same_answer(
    spark, tmp_path, monkeypatch
):
    """Ledgers written by Spark jobs — INT96 timestamps (Spark's default
    parquet output type), an 11-column file from before ``salt_buckets``
    existed, and a mix of both with driver-written files — give the same
    ``completed_buckets`` answer through the driver-side read as through
    the Spark collect it replaced. Rows are written out of time order, so
    the answer depends on reading each ``finished`` instant right."""
    import datetime as dt

    from ankiocr_spark import checkpoint
    from ankiocr_spark.checkpoint import LEDGER_SCHEMA, _append_ledger

    old_schema = (
        "run_id string, kernel_version string, bucket int, status string, "
        "rows_in long, rows_out long, n_errors long, n_empty long, "
        "bytes_in long, started timestamp, finished timestamp"
    )
    t = [dt.datetime(2026, 1, 1, 0, 0, s) for s in range(4)]

    def done(n, b, ts):
        return ("r", KERNEL_VERSION, n, b, "done", 10, 9, 1, 0, 100, ts, ts)

    conf = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "INT96")
    try:
        # count 4, then a count-8 marker, then count 4 again → only the
        # rows after the marker are current
        epochs = str(tmp_path / "int96")
        spark.createDataFrame([
            done(4, 2, t[2]), ("m", KERNEL_VERSION, 8, -1, "layout",
                               0, 0, 0, 0, 0, t[1], t[1]),
            done(4, 0, t[0]), done(4, 3, t[3]), done(4, 1, t[0]),
        ], LEDGER_SCHEMA).coalesce(1).write.parquet(epochs)
        # an 11-column file (NULL salt_buckets invalidates), then a
        # current row written by a Spark job and one written on the driver
        old = str(tmp_path / "pre_salt")
        spark.createDataFrame(
            [("o", KERNEL_VERSION, b, "done", 10, 10, 0, 0, 100, t[0], t[0])
             for b in range(4)], old_schema,
        ).write.parquet(old)
        spark.createDataFrame([done(4, 1, t[1])], LEDGER_SCHEMA) \
            .write.mode("append").parquet(old)
    finally:
        spark.conf.set(conf, prev)
    _append_ledger(spark, old, [done(4, 2, t[2])])

    expected = {epochs: [2, 3], old: [1, 2]}
    for ledger, want in expected.items():
        assert completed_buckets(spark, ledger, 4) == want
    monkeypatch.setattr(checkpoint, "_epoch_rows", _spark_epoch_rows)
    for ledger, want in expected.items():
        assert completed_buckets(spark, ledger, 4) == want


def test_leftover_tmp_file_is_ignored(spark, tmp_path):
    """A commit that died mid-write leaves only a ``_tmp-`` file, which
    neither the driver-side epoch read nor the Spark view reads."""
    import datetime as dt
    import os
    import shutil

    from ankiocr_spark.checkpoint import _append_ledger, _epoch_rows, read_ledger

    ledger = str(tmp_path / "led_tmp")
    _append_ledger(spark, ledger, _ledger_rows(dt.datetime.now())[:2])
    scratch = str(tmp_path / "other")
    _append_ledger(spark, scratch, _ledger_rows(dt.datetime.now())[2:])
    (part,) = os.listdir(scratch)
    shutil.copy(os.path.join(scratch, part), os.path.join(ledger, "_tmp-dead.parquet"))

    assert sorted(r["bucket"] for r in _epoch_rows(spark, ledger)) == [0, 1]
    assert sorted(r["bucket"] for r in read_ledger(spark, ledger).collect()) == [0, 1]
    assert completed_buckets(spark, ledger, 4) == [0, 1]


def test_ledger_fold_keeps_every_row_and_the_epoch_answer(
    spark, tmp_path, monkeypatch
):
    """A commit that leaves more than ``_FOLD_AT`` ledger files folds them
    into one. Every row is kept, and ``_current_epoch`` gives the same
    answers (two epochs, a marker back to the first) before the fold,
    after it, and after a crash between the folded file's rename and the
    deletes, which leaves every row twice."""
    import datetime as dt
    import os
    import shutil

    from ankiocr_spark import checkpoint
    from ankiocr_spark.checkpoint import (
        _append_ledger, _current_epoch, _epoch_rows, _fold_ledger,
        _ledger_dataset, _ledger_fs,
    )

    t = [dt.datetime(2026, 1, 1, 0, 0, s) for s in range(8)]
    a, b = KERNEL_VERSION, "another-kernel"

    def row(key, n, bucket, status, ts):
        return ("r", key, n, bucket, status, 10, 9, 1, 0, 100, ts, ts)

    commits = [
        [row(a, 4, 0, "done", t[0]), row(a, 4, 1, "done", t[0])],
        [row(b, 8, -1, "layout", t[1])],
        [row(b, 8, 0, "done", t[2]), row(b, 8, 5, "done", t[2])],
        [row(a, 4, -1, "layout", t[3])],
        [row(a, 4, 2, "done", t[4])],
        [row(a, 4, 3, "done", t[5])],
    ]
    n_rows = sum(map(len, commits))
    monkeypatch.setattr(checkpoint, "_FOLD_AT", len(commits))
    ledger = str(tmp_path / "led_fold")
    for c in commits:
        _append_ledger(spark, ledger, c)

    def answers():
        return [_current_epoch(spark, ledger, n, key)
                for n, key in ((4, a), (8, b), (4, b))]

    before = answers()
    assert before == [({2, 3}, False), (set(), True), (set(), True)]
    assert len(os.listdir(ledger)) == len(commits)
    backup = tmp_path / "led_fold_backup"
    shutil.copytree(ledger, backup)

    fs, path = _ledger_fs(spark, ledger)
    _fold_ledger(fs, path, _ledger_dataset(fs, path))
    assert len(os.listdir(ledger)) == 1
    assert len(_epoch_rows(spark, ledger)) == n_rows
    assert answers() == before

    # crash after the rename, before the deletes: old files and the fold
    for f in os.listdir(backup):
        shutil.copy(backup / f, ledger)
    assert len(_epoch_rows(spark, ledger)) == 2 * n_rows
    assert answers() == before

    # the next commit passes _FOLD_AT files and folds all of them
    _append_ledger(spark, ledger, [row(a, 4, 0, "done", t[6])])
    assert len(os.listdir(ledger)) == 1
    assert len(_epoch_rows(spark, ledger)) == 2 * n_rows + 1
    assert answers()[0] == ({0, 2, 3}, False)


def test_unopenable_scheme_raises_before_any_change(spark, pages_dir, tmp_path):
    """A ledger or output uri no filesystem here can open fails the run
    before the marker append or the stale-partition clear touch
    anything."""
    import os

    out = str(tmp_path / "out_scheme")
    stale = os.path.join(out, "bucket=7")
    os.makedirs(stale)
    ledger = str(tmp_path / "led_scheme")
    for cfg, output in [
        (ExtractConfig(salt_buckets=4, checkpoint_dir="nosuchfs://h/led"), out),
        (ExtractConfig(salt_buckets=4, checkpoint_dir=ledger), "nosuchfs://h/out"),
    ]:
        with pytest.raises(Exception, match="nosuchfs"):
            resumable_extract(spark, pages_dir, output, cfg, bucket_groups=1)
    assert os.listdir(out) == ["bucket=7"] and os.listdir(stale) == []
    assert not os.path.exists(ledger)


def test_file_uri_ledger_and_output_shrink_cleanly(spark, pages_dir, tmp_path):
    """``file:`` URIs name the same files as plain paths: the ledger reads
    back and a shrink clears the partitions past the new count (the
    cleanup used to skip any path ``os.path.isdir`` did not know)."""
    out = "file:" + str(tmp_path / "out_uri")
    ledger = "file:" + str(tmp_path / "led_uri")
    for n in (8, 4):
        s = resumable_extract(
            spark, pages_dir, out,
            ExtractConfig(salt_buckets=n, checkpoint_dir=ledger), bucket_groups=2,
        )
        assert s["buckets_processed"] == n
    assert completed_buckets(spark, ledger, 4) == [0, 1, 2, 3]
    result = spark.read.parquet(out)
    assert result.count() == result.select("url").distinct().count() == N
    assert result.select("bucket").distinct().count() == 4


def test_output_on_a_scheme_pyarrow_cannot_open_shrinks_cleanly(
    spark, pages_dir, tmp_path
):
    """The output side goes through Hadoop's FileSystem only: an output
    Spark can write but pyarrow cannot open (here a Hadoop ``viewfs``
    mount of a local directory; s3a and hdfs are the real cases) is
    written and shrunk by both entries. Only the ledger is opened with
    pyarrow."""
    import os

    import pyarrow.fs as pafs

    from ankiocr_spark.job import extract_job

    local = tmp_path / "viewfs_out"
    local.mkdir()
    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.cleanup.link./data", "file://" + str(local)
    )
    out = "viewfs://cleanup/data/t"
    with pytest.raises(OSError):
        pafs.FileSystem.from_uri(out)
    ledger = str(tmp_path / "led_viewfs")
    extract_job(spark, pages_dir, out, ExtractConfig(salt_buckets=8))
    s = resumable_extract(
        spark, pages_dir, out,
        ExtractConfig(salt_buckets=4, checkpoint_dir=ledger), bucket_groups=2,
    )
    assert s["buckets_processed"] == 4
    assert sorted(os.listdir(local / "t")) == [f"bucket={b}" for b in range(4)]
    extract_job(spark, pages_dir, out, ExtractConfig(salt_buckets=2))
    assert sorted(os.listdir(local / "t")) == ["bucket=0", "bucket=1"]
    result = spark.read.parquet(str(local / "t"))
    assert result.count() == result.select("url").distinct().count() == N


def test_ledger_timestamps_keep_their_instant_under_local_tz(spark, tmp_path):
    """Ledger rows appended with a naive local now() read back equal to the
    same rows written by the tuple-list createDataFrame path (the
    reference), under a process time zone far from the session's UTC:
    the epoch rule orders rows by ``finished``."""
    import datetime as dt
    import os
    import time

    from ankiocr_spark.checkpoint import LEDGER_SCHEMA, _append_ledger, read_ledger

    prev = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Tokyo"
    time.tzset()
    try:
        now = dt.datetime.now()
        rows = _ledger_rows(now)
        got_dir, ref_dir = str(tmp_path / "led_tz"), str(tmp_path / "ref_tz")
        _append_ledger(spark, got_dir, rows)
        spark.createDataFrame(rows, LEDGER_SCHEMA).write.parquet(ref_dir)
        got = sorted(read_ledger(spark, got_dir).collect())
        assert got == sorted(read_ledger(spark, ref_dir).collect())
        assert {r["finished"] for r in got} == {now}
    finally:
        if prev is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prev
        time.tzset()


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

    from ankiocr_spark.checkpoint import _append_ledger
    from ankiocr_spark.job import clear_stale_buckets, hadoop_path

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
    clear_stale_buckets(*hadoop_path(spark, out), 4)
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
