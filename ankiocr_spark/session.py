"""SparkSession construction with scale-appropriate defaults.

One place for every tuning knob so the bench harness, tests, and jobs run
identical configurations (only parallelism varies for the N-vs-4N scaling
evidence, BASELINE.md target row).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults chosen for the 100 TB design point, applied even in local mode:
#: AQE re-plans skew at runtime; dynamic partition overwrite makes re-runs
#: partition-local; Arrow batch size is set per-job from ExtractConfig.
BASE_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    # timezone-independent semantics everywhere: crawl timestamps are
    # wall/UTC times, and tz-dependent expressions (casts to TIMESTAMP,
    # unix_* on NTZ) must not change answers with the host TZ
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    # binary html payloads can exceed 2 GiB per Arrow column at scale
    "spark.sql.execution.arrow.useLargeVarTypes": "true",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def _export_package_path() -> None:
    """Make the package importable in Spark's Python workers regardless of
    cwd. Local mode: workers inherit the driver process env, so PYTHONPATH
    must carry the repo root *before* the JVM spawns. On a real cluster the
    same role is played by ``spark-submit --py-files ankiocr_spark.zip``
    (SURVEY.md §3.2)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parts = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if root not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([root] + [p for p in parts if p])


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship the package to Spark's Python workers of an ALREADY-RUNNING
    session (one the caller built, e.g. the grading driver) via
    ``sc.addPyFile`` — the runtime equivalent of ``spark-submit
    --py-files ankiocr_spark.zip``. Idempotent per content hash.

    Skipped when redundant: in local mode with the repo root already on
    PYTHONPATH the workers inherit the driver env and import the package
    directly. (Re-measured now that a worker keeps its zip directories
    across tasks, ``ankiocr_spark._keep_zip_directories``: a 40k-page
    kernel stage took 2.51 s median with the zip against 2.38 s without,
    inside the runs' spread of 2.03-2.88 s; 3 alternating fresh-session
    pairs, 4-core VM.)"""
    import hashlib
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    try:
        # workers inherit the JVM's env (captured at JVM launch), NOT the
        # driver's current os.environ — ask the JVM what they will see
        jvm_pp = spark._jvm.java.lang.System.getenv("PYTHONPATH") or ""
    except Exception:
        jvm_pp = ""
    if spark.sparkContext.master.startswith("local") and root in jvm_pp.split(
        os.pathsep
    ):
        return
    digest = hashlib.md5()
    py_files = []
    for root, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                py_files.append(p)
                with open(p, "rb") as fh:
                    digest.update(fh.read())
    zip_path = os.path.join(
        "/tmp", f"ankiocr_spark-{digest.hexdigest()[:12]}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for p in py_files:
                arc = os.path.join(
                    "ankiocr_spark", os.path.relpath(p, pkg_dir)
                )
                zf.write(p, arc)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)


def local_cpus() -> str:
    """Threads for a ``local[n]`` master: ``$SPARK_GRAFT_CPUS`` when set,
    else the CPUs this process may run on, so a tool that sets nothing
    never runs more tasks at once than the machine has cores."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "ankiocr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    _export_package_path()
    master = master or f"local[{local_cpus()}]"
    if shuffle_partitions is None:
        # first bracketed number only: 'local[4,2]' means 4 threads with 2
        # task retries (concatenating every digit would read 42), and
        # 'local-cluster[2,1,1024]' would read 211024
        import re as _re

        m = _re.search(r"\[(\d+)", master)
        shuffle_partitions = max(int(m.group(1)) if m else 32, 8)
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(BASE_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    confs.update(extra or {})
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
