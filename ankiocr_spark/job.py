"""The flagship batch extraction job — SURVEY.md §3.1/§3.2 transposed.

Reference lifecycle (OCR.run_ocr_on_query, /root/reference/src/anki_ocr/
ocr.py:218-252): query → materialize note graph → batch manifests →
one Tesseract subprocess per batch → split/rejoin → clean → writeback.

Spark transposition (all lazy until the sink):

    read parquet/Iceberg ──ColumnPruning──► select(url, html)
        │ lang/ts predicates pushed to the scan (PushedFilters)
        ▼
    salted repartition on pmod(xxhash64(url), salt_buckets)   ← skew spread
        ▼
    mapInPandas(fused strip→score→extract→clean kernel)       ← ONE Arrow hop
        ▼
    write parquet partitioned by bucket (dynamic overwrite)   ← partition-local re-runs

The driver→executor→Python-worker Arrow hop replaces the reference's
``subprocess.Popen`` process boundary (pytesseract.py:201); Arrow batch
ordering replaces the ``batch_mapping`` positional rejoin (ocr.py:151-161) —
row↔result alignment is free, so no separate split/zip operator exists here.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import ExtractConfig
from .kernel import extract_record, extract_spans

#: output schema of the fused kernel (FIXTURES.md §4)
EXTRACT_SCHEMA = (
    "url string, extracted_text string, n_blocks int, n_chars int, error string"
)

SPANS_SCHEMA = (
    "url string, block_id int, tag string, text string, "
    "n_chars int, link_density double, kept boolean"
)


def extract_frame(
    pdf: pd.DataFrame, preserve_spaces: bool = False, extra_cols: tuple = ()
) -> pd.DataFrame:
    """THE per-batch kernel loop — fused strip→score→extract→clean over one
    Arrow batch (SURVEY.md §4 "fused pipeline"); every text-mode entry
    (batch, resumable, streaming) runs its rows through here. The per-row
    loop is *inside* a vectorized batch — the same granularity as the
    reference's per-manifest loop (ocr.py:90), not a per-row Spark UDF.

    ``extra_cols`` ride the same Arrow batch: the kernel emits exactly one
    record per input row IN ORDER, so the extra columns re-attach
    positionally — the Arrow analog of the reference's ``batch_mapping``
    positional rejoin (ocr.py:151-161), with zero joins.
    """
    out = pd.DataFrame.from_records(
        extract_record(u, h, preserve_spaces=preserve_spaces)
        for u, h in zip(pdf["url"].tolist(), pdf["html"].tolist())
    )
    for c in extra_cols:
        out[c] = pdf[c].values
    return out


def make_extract_batches(
    preserve_spaces: bool = False, extra_cols: tuple = ()
):
    """The ``mapInPandas`` function of the fused kernel stage."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield extract_frame(pdf, preserve_spaces, extra_cols)

    return fn


def make_spans_batches(preserve_spaces: bool = False):
    """Span-level variant — the "tooltip" writeback analog (api.py:230-236):
    one output row per scored block instead of one per page."""
    cols = ["url", "block_id", "tag", "text", "n_chars", "link_density", "kept"]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"].tolist(), pdf["html"].tolist()):
                if html is None:
                    continue
                try:
                    for b in extract_spans(html, preserve_spaces=preserve_spaces):
                        rows.append((url, b.block_id, b.tag, b.text, b.n_chars,
                                     b.link_density, b.kept))
                except Exception:
                    continue  # quarantined by the text-mode job; spans skips
            yield pd.DataFrame(rows, columns=cols)

    return fn


def bucket_col(url_col, buckets: int) -> "F.Column":
    """THE salt-bucket expression — ``pmod(xxhash64(url), buckets)`` as an
    int. One definition for every site that must agree byte-for-byte
    (salted repartition, the post-kernel partition column, the resumable
    ledger's bucket key, the streaming sink): resume, MERGE and
    compaction are all keyed on this value, so a drifted copy would
    silently split a table across two incompatible bucketings (r5
    review find — it was inlined at four call sites)."""
    return F.pmod(F.xxhash64(url_col), F.lit(buckets)).cast("int")


def salted(df: DataFrame, buckets: int) -> DataFrame:
    """Attach the salt/bucket column and hash-repartition on it.

    ``pmod(xxhash64(url), buckets)`` spreads hot/jumbo urls uniformly
    (north_rule skew handling). The bucket column doubles as the output
    partition key so re-runs, resumes, and MERGEs stay partition-local.
    """
    df = df.withColumn("bucket", bucket_col(F.col("url"), buckets))
    return df.repartition(buckets, F.col("bucket"))


def kernel_input(
    spark: SparkSession, pages: DataFrame, cfg: ExtractConfig
) -> DataFrame:
    """The pages every kernel stage reads: ``lang_filter`` applied (and
    pushed to the scan), with the session's Arrow batch size set to
    ``cfg.batch_rows``. The batch size is a SESSION conf read at ACTION
    time, not captured into the lazy plan — one config per session-batch
    of jobs is the supported pattern (the spark-submit entry and
    ``__spark_entry__`` both do exactly that)."""
    spark.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", str(cfg.batch_rows)
    )
    if cfg.lang_filter:
        pages = pages.where(F.col("lang").isin(cfg.lang_filter))
    return pages


def require_plain_text_mode(cfg: ExtractConfig, entry: str) -> None:
    """Reject the configs an entry point cannot honour — span output and
    passthrough columns — instead of silently ignoring them."""
    if cfg.output_mode == "spans" or cfg.extra_passthrough_cols:
        raise ValueError(
            f"{entry} supports output_mode='text_column' with no "
            "extra_passthrough_cols — use the batch extract_job for those "
            "modes"
        )


def run_extract(
    spark: SparkSession,
    pages: DataFrame,
    cfg: Optional[ExtractConfig] = None,
) -> DataFrame:
    """Lazy extraction plan over a pages DataFrame (url, ..., html, lang);
    batch or streaming.

    Keeps only (url, html) in the kernel input projection — Arrow
    serialization of the binary payload dominates I/O (SURVEY.md §4), so
    nothing else crosses the Python boundary.
    """
    cfg = cfg or ExtractConfig()
    pages = kernel_input(spark, pages, cfg)

    extras = tuple(cfg.extra_passthrough_cols)
    if extras and cfg.output_mode == "spans":
        raise ValueError(
            "extra_passthrough_cols requires output_mode='text_column' "
            "(span mode emits a variable number of rows per page, so "
            "positional passthrough is undefined)"
        )
    projected = pages.select("url", "html", *extras)
    # map-only hot path: no pre-kernel shuffle unless explicitly requested
    # (see ExtractConfig.presalt_shuffle)
    part = salted(projected, cfg.salt_buckets) if cfg.presalt_shuffle else projected
    part = part.select("url", "html", *extras)

    if cfg.output_mode == "spans":
        out = part.mapInPandas(
            make_spans_batches(cfg.preserve_interword_spaces), SPANS_SCHEMA
        )
    else:
        schema = EXTRACT_SCHEMA
        if extras:
            typed = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
            schema += ", " + ", ".join(f"{c} {typed[c]}" for c in extras)
        out = part.mapInPandas(
            make_extract_batches(cfg.preserve_interword_spaces, extras), schema
        )
    # attach the bucket for partitioned writes. The hash IS computed here
    # (again, when presalt_shuffle dropped it at the projection above) —
    # xxhash64 over the short url is noise next to the kernel; carrying
    # the int through the kernel's Arrow batch instead would widen the
    # Python-boundary transfer for every row to save it
    return out.withColumn("bucket", bucket_col(F.col("url"), cfg.salt_buckets))


def extract_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    cfg: Optional[ExtractConfig] = None,
) -> None:
    """End-to-end batch job: the spark-submit entry (SURVEY.md §3.2).

    Compute-then-commit ordering (CHANGELOG.md:83 analog): the write is the
    only side effect, and dynamic partition overwrite makes re-runs
    idempotent per bucket. With Iceberg catalogs this becomes
    ``writeTo(...).overwritePartitions()`` — same plan, transactional sink.
    """
    from .errors import preflight

    cfg = cfg or ExtractConfig()
    # pin dynamic overwrite HERE, not just in session.py: on an
    # externally-built vanilla session the static default would make the
    # partitioned overwrite below truncate the ENTIRE output dir, so a
    # narrowed re-run (subset of buckets, tighter lang_filter) silently
    # deletes every other bucket's output (r3 review; checkpoint.py
    # already guards its own write the same way)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    pages = spark.read.parquet(input_path)
    preflight(spark, pages)  # fail fast before any executor work
    result = run_extract(spark, pages, cfg)
    # cluster by bucket before the partitioned write: without this, every
    # scan-split task can emit one file per bucket → O(tasks × buckets)
    # small files. The shuffle moves only extracted text (html never leaves
    # the kernel stage), and caps output at salt_buckets files.
    (
        result.repartition(cfg.salt_buckets, F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(output_path)
    )
