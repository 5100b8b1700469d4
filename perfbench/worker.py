"""Spark side of one benchmark run, started in a fresh process by run.py.

Usage: ``python3 perfbench/worker.py <config.json>``; writes the result
JSON named in the config. Set-up is timed from the moment run.py launched
this process (``t_launch``, a CLOCK_MONOTONIC reading, which all processes
of the machine share) to a live session whose Python workers have run one
small ``mapInPandas`` batch through the kernel. It then runs the workload's
job once to warm the JVM, repeats it for about ``seconds``, and reports
each repetition's wall time.

With ``trace`` on, repetitions alternate between untraced and traced. A
traced repetition records spans around each call into the program and, after
each action, reads Spark's SQL metrics; the last traced repetition's figures
are the per-layer numbers.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

#: resume_extract kills the checkpointed job after this many of its
#: RESUME_GROUPS bucket groups, then resumes it. Two groups, not the
#: library's default four: each group is a rescan with its own Spark jobs,
#: so a repetition takes ~10 s instead of ~15 s and a run times two or more
RESUME_GROUPS = 2
RESUME_KILL_AFTER = 1
MB = 1e6


class Tracer:
    """In-memory spans (name, start, end, parent, trace id)."""

    def __init__(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.spans: list = []
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "trace": self.trace_id,
               "parent": self._stack[-1]["name"] if self._stack else None,
               "start": time.monotonic()}
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self.spans.append(rec)

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def _warm(batches):
    """Runs inside each Python worker: import the kernel and extract one
    page, so worker start-up and module import are paid during set-up."""
    from ankiocr_spark.kernel import extract_record

    for pdf in batches:
        extract_record("u", b"<p>warm up the python worker kernel import</p>")
        yield pdf


def start_session(cfg: dict, tracer: Tracer):
    """Time the three set-up phases; returns (spark, phase seconds)."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = cfg["jvm_heap"]
    work = cfg["work_dir"]
    with tracer.span("session.get_spark"):
        from ankiocr_spark.session import get_spark

        spark = get_spark(
            "perfbench",
            master=f"local[{cfg['cores']}]",
            extra={
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
    t_session = time.monotonic()
    with tracer.span("session.first_action"):
        spark.range(1000).selectExpr("sum(id)").collect()
    t_action = time.monotonic()
    n = cfg["cores"]
    with tracer.span("session.worker_warm"):
        spark.range(0, 16 * n, 1, n).mapInPandas(_warm, "id long").count()
    t_warm = time.monotonic()
    return spark, {
        "setup_s": t_warm - cfg["t_launch"],
        "session.start_s": t_session - cfg["t_launch"],
        "session.first_action_s": t_action - t_session,
        "session.worker_warm_s": t_warm - t_action,
    }


# --------------------------------------------------------------- workloads


def _fresh(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


class ExtractBulk:
    """``job.extract_job`` with the default ExtractConfig."""

    def __init__(self, spark, cfg: dict) -> None:
        self.spark = spark
        self.src = os.path.join(cfg["input_dir"], "pages")
        self.out = os.path.join(cfg["work_dir"], "out")

    def prepare(self) -> None:
        _fresh(self.out)

    def run(self, tracer: Tracer) -> None:
        from ankiocr_spark.config import ExtractConfig
        from ankiocr_spark.job import extract_job

        with tracer.span("job.extract_job"):
            extract_job(self.spark, self.src, self.out, ExtractConfig())

    def layer_metrics(self, tracer: Tracer, executions: list) -> dict:
        return {}

    def verify(self) -> list:
        return []  # its output is checked against the goldens by run.py


class ResumeExtract:
    """``checkpoint.resumable_extract`` killed after half its bucket groups,
    then resumed to completion."""

    def __init__(self, spark, cfg: dict) -> None:
        self.spark = spark
        self.src = os.path.join(cfg["input_dir"], "pages")
        self.out = os.path.join(cfg["work_dir"], "out")
        self.ledger = os.path.join(cfg["work_dir"], "ledger")
        self.summary: dict = {}

    def prepare(self) -> None:
        _fresh(self.out, self.ledger)

    def run(self, tracer: Tracer) -> None:
        from ankiocr_spark import checkpoint
        from ankiocr_spark.config import ExtractConfig

        cfg = ExtractConfig(checkpoint_dir=self.ledger)
        with tracer.span("checkpoint.kill"):
            try:
                checkpoint.resumable_extract(
                    self.spark, self.src, self.out, cfg,
                    bucket_groups=RESUME_GROUPS,
                    fail_after_groups=RESUME_KILL_AFTER,
                )
                raise RuntimeError("resumable_extract ignored fail_after_groups")
            except RuntimeError as exc:
                if "simulated failure" not in str(exc):
                    raise
        with tracer.span("checkpoint.completed_buckets"):
            checkpoint.completed_buckets(self.spark, self.ledger, cfg.salt_buckets)
        with tracer.span("checkpoint.resume"):
            self.summary = checkpoint.resumable_extract(
                self.spark, self.src, self.out, cfg, bucket_groups=RESUME_GROUPS)

    def layer_metrics(self, tracer: Tracer, executions: list) -> dict:
        import sqlmetrics as sm

        scanned = sm.total(executions, "Scan parquet", "size of files read")
        return {
            "checkpoint.kill_s": tracer.seconds("checkpoint.kill"),
            "checkpoint.resume_s": tracer.seconds("checkpoint.resume"),
            "checkpoint.completed_buckets_s":
                tracer.seconds("checkpoint.completed_buckets"),
            "checkpoint.buckets_skipped": float(self.summary["buckets_skipped"]),
            "checkpoint.scan_amplification": scanned / _bytes_under(self.src),
        }

    def verify(self) -> list:
        """The resume skipped exactly the buckets the kill completed, and
        the ledger's per-bucket rows_in equals an independent recount of the
        input by bucket_col."""
        from pyspark.sql import functions as F

        from ankiocr_spark.checkpoint import read_ledger
        from ankiocr_spark.config import ExtractConfig
        from ankiocr_spark.job import bucket_col

        buckets = ExtractConfig().salt_buckets
        problems = []
        want_skipped = buckets * RESUME_KILL_AFTER // RESUME_GROUPS
        if self.summary.get("buckets_skipped") != want_skipped:
            problems.append(f"resume skipped {self.summary.get('buckets_skipped')} "
                            f"buckets, expected {want_skipped}")
        ledger = {
            r["bucket"]: r["rows_in"]
            for r in read_ledger(self.spark, self.ledger)
            .where(F.col("status") == "done").collect()
        }
        recount = {
            r["b"]: r["n"]
            for r in self.spark.read.parquet(self.src)
            .groupBy(bucket_col(F.col("url"), buckets).alias("b"))
            .agg(F.count("*").alias("n")).collect()
        }
        if ledger != recount:
            bad = sorted(b for b in set(ledger) | set(recount)
                         if ledger.get(b) != recount.get(b))
            problems.append(f"ledger rows_in differs from the input recount "
                            f"in buckets {bad[:8]}")
        return problems


WORKLOADS = {"extract_bulk": ExtractBulk, "resume_extract": ResumeExtract}

#: the curation pipelines the datapipe pass runs, in order
DATAPIPE_QUERIES = ("curation_pipeline_e2e", "training_pipeline_e2e")


def datapipe_pass(spark, cfg: dict, tracer: Tracer, result: dict) -> dict:
    """The datapipe layer's figures from one traced, cold run of the two
    curation pipelines over the seeded documents table, each written to
    parquet for run.py to check against its DuckDB oracle."""
    import __spark_entry__
    import sqlmetrics as sm

    queries = __spark_entry__.queries()
    out = os.path.join(cfg["work_dir"], "datapipe")
    before = sm.last_execution_id(spark)
    for name in DATAPIPE_QUERIES:
        with tracer.span(f"datapipe.{name}"):
            queries[name](spark, cfg["docs_dir"]).write.parquet(os.path.join(out, name))
    executions = sm.read_executions(spark, before)
    result["datapipe_out_dir"] = out
    write = "Execute InsertIntoHadoopFsRelationCommand"
    return {
        "datapipe.curation_pipeline_s": tracer.seconds("datapipe.curation_pipeline_e2e"),
        "datapipe.training_pipeline_s": tracer.seconds("datapipe.training_pipeline_e2e"),
        "datapipe.py_run_s":
            sm.total(executions, "MapInPandas", "time to run Python workers"),
        "datapipe.exchange_mb":
            sm.total(executions, "Exchange", "shuffle bytes written") / MB,
        "datapipe.rows_out": sm.total(executions, write, "number of output rows"),
    }


# ----------------------------------------------------------- SQL metrics


def job_layer_metrics(spark, executions: list, workload: str) -> dict:
    """The job layer's figures of one repetition from its SQL executions;
    only those the workload exercises are read."""
    import metrics
    import sqlmetrics as sm

    def mb(node, metric):
        return sm.total(executions, node, metric) / MB

    py = "MapInPandas"
    write = "Execute InsertIntoHadoopFsRelationCommand"

    def tasks():
        # Spark prints min/med/max only for a metric with more than one
        # task, so a metric without them comes from a one-task stage
        runs = sm.nodes(executions, py, "time to run Python workers")
        return float(sum(1 if m.stage is None else sm.stage_tasks(spark, m.stage)
                         for m in runs))

    def skew():
        runs = sm.nodes(executions, py, "time to run Python workers")
        return max(m.task_max / m.task_med if m.task_med else 1.0 for m in runs)

    readers = {
        "job.scan_s": lambda: sm.total(executions, "Scan parquet", "scan time"),
        "job.scan_mb": lambda: mb("Scan parquet", "size of files read"),
        "job.py_start_s": lambda: sm.total(executions, py, "time to start Python workers"),
        "job.py_init_s":
            lambda: sm.total(executions, py, "time to initialize Python workers"),
        "job.py_run_s": lambda: sm.total(executions, py, "time to run Python workers"),
        "job.arrow_sent_mb": lambda: mb(py, "data sent to Python workers"),
        "job.arrow_returned_mb": lambda: mb(py, "data returned from Python workers"),
        "job.kernel_tasks": tasks,
        "job.kernel_task_skew": skew,
        "job.exchange_mb": lambda: mb("Exchange", "shuffle bytes written"),
        "job.sort_spill_mb": lambda: mb("Sort", "spill size"),
        "job.commit_s": lambda: sm.total(executions, write, "job commit time")
        + sm.total(executions, write, "task commit time"),
        "job.out_files": lambda: sm.total(executions, write, "number of written files"),
        "job.out_mb": lambda: mb(write, "written output"),
    }
    return {name: read() for name, read in readers.items()
            if name in metrics.defined_for(workload)}


def _bytes_under(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# ------------------------------------------------------------------- main


def main(cfg_path: str) -> None:
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    tracer = Tracer(trace_id=f"{cfg['workload']}-{cfg['seed']}")
    spark, setup = start_session(cfg, tracer)
    result = {"setup": setup, "reps": [], "traced_reps": [], "windows": [],
              "failed": 0, "problems": []}
    try:
        run_workload(spark, cfg, tracer, result)
    finally:
        spark.stop()
    if cfg["trace"]:
        with open(cfg["spans"], "w") as fh:
            json.dump(tracer.spans, fh)
    with open(cfg["result"], "w") as fh:
        json.dump(result, fh)


def run_workload(spark, cfg: dict, tracer: Tracer, result: dict) -> None:
    """Warm up with one untimed run of the job, then repeat it while the
    next repetition is expected to end within ``seconds``; in a traced run
    every other repetition is traced and its SQL metrics read."""
    import sqlmetrics as sm

    wl = WORKLOADS[cfg["workload"]](spark, cfg)
    # the first run in a JVM is a cold one (resume_extract: ~15 s cold
    # against ~10 s warm), so it is not timed
    wl.prepare()
    t0 = time.monotonic()
    wl.run(Tracer("warm-up"))
    start = time.monotonic()
    result["warmup_s"] = start - t0
    rep = 0
    while True:
        traced = cfg["trace"] and rep % 2 == 1
        rep += 1
        wl.prepare()
        # a fresh tracer per repetition: the per-layer figures are the
        # last traced repetition's; every traced span is kept for output
        rep_tracer = Tracer(tracer.trace_id)
        before = sm.last_execution_id(spark) if traced else None
        t0 = time.monotonic()
        try:
            with rep_tracer.span(f"rep.{cfg['workload']}"):
                wl.run(rep_tracer)
            if traced:
                executions = sm.read_executions(spark, before)
        except Exception:  # counted and reported; the loop goes on
            result["failed"] += 1
            result["problems"].append(traceback.format_exc(limit=3))
        else:
            t1 = time.monotonic()
            result["windows"].append([t0, t1])
            if traced:
                tracer.spans += rep_tracer.spans
                last = (rep_tracer, executions)
                result["traced_reps"].append(t1 - t0)
            else:
                result["reps"].append(t1 - t0)
        done = result["reps"] + result["traced_reps"]
        expected_end = time.monotonic() + statistics.median(done or [0.0])
        if expected_end - start > cfg["seconds"] and (
                not cfg["trace"] or result["traced_reps"] or result["failed"]):
            break
    result["out_dir"] = wl.out
    if cfg["trace"] and result["reps"] and result["traced_reps"]:
        rep_tracer, executions = last
        layers = job_layer_metrics(spark, executions, cfg["workload"])
        layers.update(wl.layer_metrics(rep_tracer, executions))
        layers["trace.overhead_s"] = (statistics.median(result["traced_reps"])
                                      - statistics.median(result["reps"]))
        if cfg["workload"] == "extract_bulk":
            layers.update(datapipe_pass(spark, cfg, tracer, result))
        result["layers"] = layers
    result["problems"] += wl.verify()


if __name__ == "__main__":
    main(sys.argv[1])
