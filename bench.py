"""Bench harness — per-round driver contract.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "sf": ..., ...}, at most
1 KB: the ``SUMMARY_KEYS`` only.

The flagship metric of this engine is documents/sec through the fused
HTML→extracted-text kernel (BASELINE.json), reported as extra keys
(docs_per_sec, kernel_docs_per_sec) alongside the required seconds. The
per-query, secondary and 10× tables go to BENCH/detail.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry  # noqa: E402
from ankiocr_spark.session import get_spark, local_cpus  # noqa: E402

#: headline set: the flagship extraction hot path, the composed
#: end-to-end training pipeline (the query a real 100-TB user runs), and
#: the heaviest SCALE-PATH shuffle/join/kernel representatives.
HEADLINE = [
    "flagship_extract",
    "training_pipeline_e2e",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_topk_bruteforce",
    "token_count",
    "quality_score",
    "group_concat",
]

#: labeled oracle paths — correct but intentionally quadratic-bounded
#: (df-capped pairwise Jaccard), NOT the shape that ships at 100 TB
#: (MinHash-LSH is). Timed once and reported separately so the headline
#: wall reflects the scale paths (VERDICT r3 #4: Jaccard alone was 47%
#: of the r3 headline).
#:
#: The flag marks the documents-driven round-5 ops ALSO timed at the 10×
#: corpus — at sf0.1 they finish inside the noise floor, so the 10×
#: number is the one that carries scaling signal. semdedup is not
#: flagged: it reads the embeddings table, which the 10× corpus symlinks
#: at 1×.
SECONDARY = [
    ("dedup_ngram_jaccard", False),
    # the delta-economics showcase: value-equals a full re-extract but the
    # kernel sees only the added/changed slice. Timed for visibility; not
    # headline because the sf-table fixture must synthesize BOTH snapshots
    # (two kernel passes) — production reads the old extract table.
    ("incremental_extract", False),
    # r4 additions, timed for visibility; kept off the headline so the
    # round-over-round wall stays comparable (same 8-query basket).
    ("seq_pack", False),
    ("crossdedup_lsh", False),
    ("train_val_split", False),
    ("boilerplate_strip", False),
    # cluster_keeper / cluster_keeper_staged are NOT timed: at sf0.1 both
    # pay the simhash-pair + CC-propagation chain (~69 s, dominated by
    # stages the pair/cluster queries already characterize — inline pays
    # it in-lineage, staged pays it once at staging time); the keeper
    # step itself adds one broadcast join + one cluster-partitioned
    # window either way.
    ("classifier_score", False),
    ("url_latest", False),
    ("dsir_weight", False),
    ("c4_filter", False),
    ("badwords_filter", False),
    ("token_entropy", False),
    # r5 additions
    ("classifier_train", False),
    ("recrawl_e2e", False),
    ("curation_pipeline_e2e", False),
    ("semdedup", False),
    ("domain_reputation", True),
    ("robots_txt_filter", True),
    ("split_leakage", True),
    ("crawl_schedule", True),
    ("perplexity_buckets", True),
    ("page_metadata", True),
    ("html_tables", True),
    ("canonical_collapse", True),
    ("lang_mismatch", True),
    ("mojibake", True),
    ("charset_sniff", True),
    ("redirect_resolve", True),
    ("registered_domain", True),
]


#: cached fixture corpus for the kernel-throughput figure — the sf tables
#: top out at 5000 docs, far too small to measure the hot path. Layout and
#: seeds are IDENTICAL to scripts/bench_scaling.py's uniform dataset, so
#: the two harnesses share one cached corpus; sizing gives the scan ~30
#: parallelism-derived splits (>= cores) — smaller corpora under-split
#: and idle half the box.
KERNEL_BENCH_DIR = "/tmp/bench_pages_uniform"
KERNEL_BENCH_DOCS = 600_000
KERNEL_SHARD = 25_000


def _gen_kernel_shard(shard: int) -> int:
    # module-level so ProcessPoolExecutor can pickle it
    from ankiocr_spark.fixtures import write_pages_parquet

    sub = os.path.join(KERNEL_BENCH_DIR, f"shard={shard:03d}")
    if not os.path.exists(os.path.join(sub, "_OK")):
        write_pages_parquet(
            sub, KERNEL_SHARD, seed=42 + shard, start=shard * KERNEL_SHARD
        )
        open(os.path.join(sub, "_OK"), "w").close()
    return shard


def _ensure_kernel_corpus() -> None:
    from concurrent.futures import ProcessPoolExecutor

    with ProcessPoolExecutor(max_workers=8) as ex:
        list(ex.map(_gen_kernel_shard, range(KERNEL_BENCH_DOCS // KERNEL_SHARD)))


def _kernel_rep_seconds(spark, reps: int) -> list[float]:
    """Timed reps of the fused extraction over the cached fixture corpus
    (BASELINE.json headline metric). Caller spreads calls across TIME
    WINDOWS and takes the global best: host contention here is one-sided
    (a rep can only be slowed) and arrives in multi-minute bursts that a
    single back-to-back best-of-N sits entirely inside — the r02 driver
    bench read 27% low exactly that way while a two-window measurement of
    the same build did not (BENCH/BASELINE.md header)."""
    from ankiocr_spark.config import ExtractConfig
    from ankiocr_spark.job import run_extract

    pages = spark.read.parquet(KERNEL_BENCH_DIR)
    plan = lambda: run_extract(spark, pages, ExtractConfig(salt_buckets=128))  # noqa: E731
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        plan().write.format("noop").mode("overwrite").save()
        out.append(time.perf_counter() - t0)
    return out


def _headline_pass(qs, spark, sf_dir) -> tuple[dict[str, float], int]:
    timings: dict[str, float] = {}
    n_docs = 0
    for name in HEADLINE:
        fn = qs[name]
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        rows = df.count()
        timings[name] = round(time.perf_counter() - t0, 3)
        if name == "flagship_extract":
            n_docs = rows
    return timings, n_docs


#: 10×-docs scale pass (VERDICT r4 #5): half the sf0.1 headline basket
#: finishes in <0.5 s, inside the host-noise floor that cost r2 a false
#: regression — so the bench ALSO times the same basket over a corpus of
#: 10 shifted+deduplicated copies of the sf0.1 documents table (content
#: prefixed per copy so dedup stages see the same duplicate structure,
#: ids offset far past the queries' +1e6 injection range). Non-document
#: tables are symlinked from sf0.1, so embeddings-backed ann_topk runs at
#: 1× inside the 10× basket (labeled, not hidden). sf0.1 stays the
#: round-over-round series; the 10× pass is the signal-bearing one.
TENX_DIR = "/tmp/bench_docs_10x"
TENX_COPIES = 10
TENX_ID_STRIDE = 100_000_000


def _ensure_tenx_corpus(spark, sf_dir: str) -> None:
    # the cache marker records WHICH sf_dir built the corpus: a bench run
    # with a different $SPARK_GRAFT_SF_DIR must rebuild, not silently
    # reuse a 10× corpus (and symlinks) derived from the previous sf
    # (r5 review find)
    ok = os.path.join(TENX_DIR, "_OK")
    if os.path.exists(ok) and open(ok).read() == sf_dir:
        return
    import shutil

    from pyspark.sql import functions as F

    shutil.rmtree(TENX_DIR, ignore_errors=True)
    os.makedirs(TENX_DIR, exist_ok=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    copies = [
        docs.select(
            (F.col("doc_id") + i * TENX_ID_STRIDE).alias("doc_id"),
            F.when(
                F.col("text").isNotNull(),
                F.concat(F.lit(f"c{i} "), F.col("text")),
            ).alias("text"),
            "lang",
            "source",
            (F.col("n_chars") + len(f"c{i} ")).alias("n_chars"),
        )
        for i in range(TENX_COPIES)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(TENX_DIR, "documents.parquet")
    )
    for name in ("events", "embeddings"):
        dst = os.path.join(TENX_DIR, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(sf_dir, f"{name}.parquet"), dst)
    with open(ok, "w") as fh:
        fh.write(sf_dir)


#: the keys of the printed line; a line that outgrows a log-tail capture
#: parses as nothing, so the tables go to DETAIL_PATH instead
SUMMARY_KEYS = (
    "metric", "value", "unit", "sf", "docs_per_sec", "value_10x",
    "kernel_docs_per_sec", "cpus",
)
DETAIL_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH", "detail.json"
)


def emit(out: dict) -> str:
    """Write the full result to DETAIL_PATH; return the summary line."""
    with open(DETAIL_PATH, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    return json.dumps({k: out[k] for k in SUMMARY_KEYS})


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark("bench")
    qs = entry.queries()

    # warm the JVM + Python workers once, outside timed runs
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    _ensure_kernel_corpus()
    from ankiocr_spark.config import ExtractConfig
    from ankiocr_spark.job import run_extract
    run_extract(
        spark, spark.read.parquet(KERNEL_BENCH_DIR), ExtractConfig()
    ).limit(2000).write.format("noop").mode("overwrite").save()

    _ensure_tenx_corpus(spark, sf_dir)

    # round-robin windows: kernel reps, sf0.1 headline passes, and the
    # 10×-docs passes interleaved so each capability samples ≥2 windows
    # separated by tens of seconds; per-query and per-rep minima defeat
    # the one-sided noise
    kernel_secs = _kernel_rep_seconds(spark, 3)
    t1, n_docs = _headline_pass(qs, spark, sf_dir)
    x1, n_docs_10x = _headline_pass(qs, spark, TENX_DIR)
    kernel_secs += _kernel_rep_seconds(spark, 2)
    t2, _ = _headline_pass(qs, spark, sf_dir)
    x2, _ = _headline_pass(qs, spark, TENX_DIR)
    timings = {k: min(t1[k], t2[k]) for k in t1}
    timings_10x = {k: min(x1[k], x2[k]) for k in x1}

    secondary: dict[str, float] = {}
    for name, _ in SECONDARY:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).count()
        secondary[name] = round(time.perf_counter() - t0, 3)

    # 10× flag rationale at SECONDARY's definition. Best-of-2 like every
    # other signal-bearing number here — a single cold sample would put
    # one GC pause straight into the published figure (review find; the
    # r2 false regression was exactly this).
    secondary_10x: dict[str, float] = {}
    for _ in range(2):
        for name in [n for n, at_10x in SECONDARY if at_10x]:
            t0 = time.perf_counter()
            qs[name](spark, TENX_DIR).count()
            dt = round(time.perf_counter() - t0, 3)
            secondary_10x[name] = min(secondary_10x.get(name, dt), dt)

    kernel_dps = round(KERNEL_BENCH_DOCS / min(kernel_secs), 1)

    total = round(sum(timings.values()), 3)
    flagship_s = timings.get("flagship_extract", 0.0) or 1e-9
    out = {
        "metric": "headline query wall time (sf%.3g, local[%s])"
        % (sf, local_cpus()),
        "value": total,
        "unit": "sec",
        "queries": timings,
        # oracle-path queries, deliberately off the headline (see SECONDARY)
        "secondary_queries": secondary,
        # round-5 documents-driven ops over the 10× corpus (scaling signal)
        "secondary_queries_10x": secondary_10x,
        "sf": sf,
        "cpus": spark.sparkContext.defaultParallelism,
        "docs": n_docs,
        "docs_per_sec": round(n_docs / flagship_s, 1),
        # the BASELINE.json headline: fused-kernel docs/sec over a 600k-page
        # fixture corpus (the sf tables are too small to saturate the box)
        "kernel_bench_docs": KERNEL_BENCH_DOCS,
        "kernel_docs_per_sec": kernel_dps,
        # same basket over the 10× documents corpus (embeddings symlinked
        # at 1× — ann_topk_bruteforce therefore measures 1× there)
        "docs_10x": n_docs_10x,
        "value_10x": round(sum(timings_10x.values()), 3),
        "queries_10x": timings_10x,
        "docs_per_sec_10x": round(
            n_docs_10x / (timings_10x.get("flagship_extract", 0.0) or 1e-9), 1
        ),
    }
    spark.stop()
    print(emit(out))


if __name__ == "__main__":
    main()
