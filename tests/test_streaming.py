"""Incremental streaming ingest: correctness + exactly-once resume.

Mirrors the batch e2e contract (per-url golden equality, the recast of
/root/reference/tests/test_ocr.py:46-60) but driven through Structured
Streaming's file source with availableNow triggers, and asserts the
streaming checkpoint's incremental guarantee: a second dump processes
ONLY the new files.
"""

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ankiocr_spark.config import ExtractConfig
from ankiocr_spark.fixtures import gen_rows
from ankiocr_spark.streaming import run_stream_extract_available_now

CFG = ExtractConfig(salt_buckets=8, batch_rows=64)


def _write_dump(input_dir: str, name: str, n: int, start: int, seed: int):
    """One 'crawl segment' file landing in the ingest dir. Returns goldens."""
    os.makedirs(input_dir, exist_ok=True)
    rows = list(gen_rows(n, seed=seed, start=start))
    table = pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    })
    pq.write_table(table, os.path.join(input_dir, name))
    return {r["url"]: r["expected_text"] for r in rows}


def _read_extracts(spark, output_dir):
    df = spark.read.parquet(output_dir).select("url", "extracted_text")
    return {r["url"]: r["extracted_text"] for r in df.collect()}


@pytest.fixture()
def dirs(tmp_path):
    return (str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt"))


def test_stream_extract_matches_goldens(spark, dirs):
    input_dir, output_dir, ckpt = dirs
    goldens = _write_dump(input_dir, "dump-000.parquet", 60, start=0, seed=7)
    run_stream_extract_available_now(spark, input_dir, output_dir, ckpt, CFG)

    got = _read_extracts(spark, output_dir)
    assert len(got) == 60
    for url, expected in goldens.items():
        if expected is None:  # null-html rows pass through as error rows
            continue
        assert got[url] == expected, url


def test_stream_resume_processes_only_new_files(spark, dirs):
    input_dir, output_dir, ckpt = dirs
    g1 = _write_dump(input_dir, "dump-000.parquet", 40, start=0, seed=7)
    run_stream_extract_available_now(spark, input_dir, output_dir, ckpt, CFG)
    assert len(_read_extracts(spark, output_dir)) == 40

    # second segment lands; re-trigger from the same checkpoint
    g2 = _write_dump(input_dir, "dump-001.parquet", 25, start=1000, seed=8)
    run_stream_extract_available_now(spark, input_dir, output_dir, ckpt, CFG)

    got = _read_extracts(spark, output_dir)
    # exactly-once: 40 + 25, no reprocessing duplicates of dump-000
    assert len(got) == 65
    for url, expected in {**g1, **g2}.items():
        if expected is not None:
            assert got[url] == expected, url

    # third trigger with nothing new is a no-op
    run_stream_extract_available_now(spark, input_dir, output_dir, ckpt, CFG)
    assert len(_read_extracts(spark, output_dir)) == 65


# --- streaming exact-dedup on url across overlapping dumps ------------------

from ankiocr_spark.streaming import start_stream_extract_dedup

D1 = dt.datetime(2024, 1, 1, 12, 0, 0)
D2 = dt.datetime(2024, 1, 2, 12, 0, 0)


def test_stream_extract_dedup_across_dumps(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    output_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")

    def page(url, ts, body):
        html = f"<html><body><h1>Title {body}</h1><p>{body * 8} content paragraph</p></body></html>".encode()
        return (url, ts, html)

    def dump(name, rows):
        os.makedirs(input_dir, exist_ok=True)
        table = pa.table({
            "url": pa.array([r[0] for r in rows], pa.string()),
            "warc_ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "html": pa.array([r[2] for r in rows], pa.binary()),
            "text": pa.array([None] * len(rows), pa.string()),
            "lang": pa.array(["eng"] * len(rows), pa.string()),
        })
        pq.write_table(table, os.path.join(input_dir, name))

    def drain():
        q = start_stream_extract_dedup(
            spark, input_dir, output_dir, ckpt, CFG, dedup_horizon="2 days")
        assert q.awaitTermination(120)

    dump("d0.parquet", [
        page("https://x.example/a", D1, "alpha"),
        page("https://x.example/b", D1, "beta"),
    ])
    drain()
    got = spark.read.parquet(output_dir).select("url").collect()
    assert sorted(r["url"] for r in got) == [
        "https://x.example/a", "https://x.example/b"]

    # overlapping dump: /b re-crawled (within the horizon -> deduped),
    # /c is new
    dump("d1.parquet", [
        page("https://x.example/b", D2, "beta-again"),
        page("https://x.example/c", D2, "gamma"),
    ])
    drain()
    rows = spark.read.parquet(output_dir).collect()
    urls = sorted(r["url"] for r in rows)
    assert urls == ["https://x.example/a", "https://x.example/b",
                    "https://x.example/c"], urls
    # the kept /b is the FIRST crawl's extract
    b = [r for r in rows if r["url"].endswith("/b")][0]
    assert "beta" in b["extracted_text"] and "beta-again" not in b["extracted_text"]


def test_stream_honors_extract_config(spark, tmp_path):
    """Batch/stream config parity (r3 review: preserve_interword_spaces and
    lang_filter were silently ignored by the streaming plan): a stream run
    with both knobs set must equal the batch extract_job under the same
    ExtractConfig, and unsupported knobs must raise, not no-op."""
    import pytest as _pytest

    from ankiocr_spark.job import extract_job
    from ankiocr_spark.streaming import stream_extract_plan

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    table = pa.table({
        "url": pa.array(["https://p/en", "https://p/de", "https://p/sp"]),
        "warc_ts": pa.array([None] * 3, pa.timestamp("us")),
        "html": pa.array([
            b"<p>english page body long enough to keep here</p>",
            b"<p>german page body long enough to keep here ok</p>",
            b"<p>spaced   page   body long enough to keep here</p>",
        ], pa.binary()),
        "text": pa.array([None] * 3, pa.string()),
        "lang": pa.array(["eng", "deu", "eng"], pa.string()),
    })
    pq.write_table(table, os.path.join(in_dir, "d.parquet"))

    cfg = ExtractConfig(
        salt_buckets=4, batch_rows=16,
        lang_filter=["eng"], preserve_interword_spaces=True,
    )
    out_s, ckpt = str(tmp_path / "outs"), str(tmp_path / "ckpt")
    run_stream_extract_available_now(spark, in_dir, out_s, ckpt, cfg)
    stream = _read_extracts(spark, out_s)
    out_b = str(tmp_path / "outb")
    extract_job(spark, in_dir, out_b, cfg)
    batch = _read_extracts(spark, out_b)
    assert stream == batch
    assert set(stream) == {"https://p/en", "https://p/sp"}  # lang pushed
    assert "spaced   page   body" in stream["https://p/sp"]  # spaces kept

    with _pytest.raises(ValueError, match="streaming extraction"):
        stream_extract_plan(
            spark.readStream.schema(
                "url string, warc_ts timestamp, html binary, text string, lang string"
            ).parquet(in_dir),
            ExtractConfig(output_mode="spans"),
        )


def test_drain_stops_and_raises_on_timeout():
    """A stream that does not finish within the timeout is stopped
    before the TimeoutError propagates, so it cannot outlive the call."""
    from ankiocr_spark.streaming import _drain

    class Stuck:
        id = "q-1"
        stopped = False

        def awaitTermination(self, timeout):
            return False

        def stop(self):
            self.stopped = True

    q = Stuck()
    with pytest.raises(TimeoutError, match="q-1 did not drain within 5s"):
        _drain(q, 5)
    assert q.stopped
