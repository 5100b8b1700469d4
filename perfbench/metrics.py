"""The benchmark's metrics: names, units, and which end-to-end metric each
per-layer metric should move, on which workload.

``BENCHMARK.json`` lists the same names and units (its schema has no room
for the targets, so they live here); ``test_bench.py`` keeps the two equal.
A per-layer metric of a layer the workload does not exercise reads 0; one
the workload does exercise must have been measured, or the run fails.
"""

from __future__ import annotations

import statistics

MB = 1e6
BOTH = "extract_bulk,resume_extract"

#: name -> (unit, better, bound). The host's speed drifts over minutes: on
#: a shared 4-core VM a fixed pure-Python loop timed before each run
#: (host.cpu_probe_s) ranged 0.10-0.19 s, and in three sets of ten seeds of
#: one commit, run back to back, the set medians of extract_bulk's job_s
#: were 5.5, 4.8 and 2.9 s. The quartile distance over the median of job_s
#: was 0.06, 0.29 and 0.12 on extract_bulk and 0.05, 0.34 and 0.14 on
#: resume_extract, the widest in the set during which the host sped up.
#: Hence the widest bound allowed on every metric.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "job_s": ("s", "lower", 0.25),
    "docs_per_s": ("1/s", "higher", 0.25),
}

#: name -> (unit, better, end-to-end metric it should move, on which workloads)
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s", BOTH),
    "session.first_action_s": ("s", "lower", "setup_s", BOTH),
    "session.worker_warm_s": ("s", "lower", "setup_s", BOTH),
    # timed single-threaded in process on a seeded sample of the run's pages
    "kernel.docs_per_s_1t": ("1/s", "higher", "docs_per_s", BOTH),
    "kernel.detect_encoding_s": ("s", "lower", "docs_per_s", BOTH),
    "kernel.extract_spans_s": ("s", "lower", "docs_per_s", BOTH),
    "kernel.clean_text_s": ("s", "lower", "docs_per_s", BOTH),
    "kernel.extract_record_s": ("s", "lower", "docs_per_s", BOTH),
    "kernel.kept_block_frac": ("1", "higher", "docs_per_s", BOTH),
    # from Spark's SQL metrics of the last traced repetition
    "job.scan_s": ("s", "lower", "docs_per_s", BOTH),
    "job.scan_mb": ("MB", "lower", "docs_per_s", BOTH),
    "job.py_start_s": ("s", "lower", "docs_per_s", "extract_bulk"),
    "job.py_init_s": ("s", "lower", "docs_per_s", "extract_bulk"),
    "job.py_run_s": ("s", "lower", "docs_per_s", "extract_bulk"),
    "job.arrow_sent_mb": ("MB", "lower", "docs_per_s", "extract_bulk"),
    "job.arrow_returned_mb": ("MB", "lower", "docs_per_s", "extract_bulk"),
    "job.kernel_tasks": ("count", "higher", "job_s", "extract_bulk"),
    "job.kernel_task_skew": ("1", "lower", "job_s", "extract_bulk"),
    # resume_extract has no post-kernel exchange: these should not move it
    "job.exchange_mb": ("MB", "lower", "job_s", "extract_bulk"),
    "job.sort_spill_mb": ("MB", "lower", "job_s", "extract_bulk"),
    "job.commit_s": ("s", "lower", "job_s", "extract_bulk"),
    "job.out_files": ("count", "lower", "job_s", "extract_bulk"),
    "job.out_mb": ("MB", "lower", "job_s", "extract_bulk"),
    "job.error_rows_frac": ("1", "lower", "docs_per_s", BOTH),
    # job.docs_per_s / job.parallel_ceiling_docs_per_s, the ceiling being
    # nproc x kernel.docs_per_s_1t
    "job.docs_per_s": ("1/s", "higher", "docs_per_s", BOTH),
    "job.parallel_ceiling_docs_per_s": ("1/s", "higher", "docs_per_s", BOTH),
    "job.parallel_eff": ("1", "higher", "docs_per_s", BOTH),
    "checkpoint.kill_s": ("s", "lower", "job_s", "resume_extract"),
    "checkpoint.resume_s": ("s", "lower", "job_s", "resume_extract"),
    "checkpoint.completed_buckets_s": ("s", "lower", "job_s", "resume_extract"),
    "checkpoint.buckets_skipped": ("count", "higher", "job_s", "resume_extract"),
    "checkpoint.scan_amplification": ("1", "lower", "job_s", "resume_extract"),
    # one cold run of the two curation pipelines in extract_bulk's traced
    # run; no timed workload runs them, so they move no end-to-end metric
    "datapipe.curation_pipeline_s": ("s", "lower", None, "extract_bulk"),
    "datapipe.training_pipeline_s": ("s", "lower", None, "extract_bulk"),
    "datapipe.py_run_s": ("s", "lower", None, "extract_bulk"),
    "datapipe.exchange_mb": ("MB", "lower", None, "extract_bulk"),
    "datapipe.rows_out": ("count", "higher", None, "extract_bulk"),
    "trace.overhead_s": ("s", "lower", "job_s", BOTH),
    # peak summed RSS of the Spark process tree (Python, JVM, Python workers)
    # during the timed jobs; it moves by more than a tenth between runs of
    # the same code, so it is reported here, not as an end-to-end metric
    "peak_rss_mb": ("MB", "lower", "job_s", BOTH),
    # the host, read by run.py around the worker: a drift in host speed
    # moves every timing of a run, and these tell it from a program change
    "host.cpu_probe_s": ("s", "lower", None, BOTH),
    "host.loadavg_1m": ("1", "lower", None, BOTH),
    "host.steal_frac": ("1", "lower", None, BOTH),
}


def defined_for(workload: str) -> list:
    """Names of the per-layer metrics the workload exercises."""
    return [k for k, spec in PER_LAYER.items() if workload in spec[3].split(",")]


def _peak_in(windows: list, samples: list) -> float:
    return max((rss for t, rss in samples
                if any(a <= t <= b for a, b in windows)), default=0)


def end_to_end(res: dict, size: int) -> dict:
    job_s = statistics.median(res["reps"])
    return {
        "setup_s": res["setup"]["setup_s"],
        "job_s": job_s,
        "docs_per_s": size / job_s,
    }


def error_rows_frac(out_dir: str) -> float:
    import pyarrow.parquet as pq

    err = pq.read_table(out_dir, columns=["error"]).column("error")
    return (len(err) - err.null_count) / len(err)


def per_layer(res: dict, size: int, kernel: dict, cores: int, samples: list) -> dict:
    values = {k: v for k, v in res["setup"].items() if k.startswith("session.")}
    values.update(kernel)
    values.update(res.get("layers", {}))
    docs_per_s = size / statistics.median(res["reps"])
    ceiling = cores * kernel["kernel.docs_per_s_1t"]
    values["job.docs_per_s"] = docs_per_s
    values["job.parallel_ceiling_docs_per_s"] = ceiling
    values["job.parallel_eff"] = docs_per_s / ceiling
    values["peak_rss_mb"] = _peak_in(res["windows"], samples) / MB
    values["job.error_rows_frac"] = error_rows_frac(res["out_dir"])
    return values


def render(values: dict, kind: str, workload: str) -> dict:
    """Every metric of ``kind`` by name with its unit. A per-layer metric
    the workload does not exercise reads 0; any other missing metric raises
    KeyError."""
    if kind == "end_to_end":
        return {name: {"value": float(values[name]), "unit": spec[0]}
                for name, spec in END_TO_END.items()}
    exercised = set(defined_for(workload))
    return {name: {"value": float(values[name] if name in exercised
                                  else values.get(name, 0.0)), "unit": spec[0]}
            for name, spec in PER_LAYER.items()}
