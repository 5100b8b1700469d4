"""Python worker start-up: once a worker has imported the package, the
per-task ``importlib.invalidate_caches()`` of pyspark's task set-up no
longer re-reads the directory of every zip archive on the worker's path
(``ankiocr_spark._keep_zip_directories``)."""

import json
import os
import zipimport

import pandas as pd


def test_driver_keeps_zip_invalidation():
    """The hook is for workers only: the driver's zip importers still
    re-read their archive on ``invalidate_caches``."""
    assert "invalidate_caches" in vars(zipimport.zipimporter)
    assert zipimport.zipimporter.invalidate_caches.__qualname__ == (
        "zipimporter.invalidate_caches"
    )


def test_warm_task_keeps_its_zip_directories(spark):
    """Read inside the worker: a task that follows a package stage on the
    same reused worker finds every ``zipimporter`` still holding the
    directory it held before the task's set-up (a re-read builds a new
    one), and a pyspark module imported after it still imports from
    ``pyspark.zip``."""
    # pyspark modules a worker running a pandas stage has not imported
    candidates = [
        "pyspark.install", "pyspark.sql.avro.functions",
        "pyspark.sql.protobuf.functions", "pyspark.sql.tvf",
        "pyspark.mllib.common", "pyspark.ml.linalg",
    ]

    def probe(batches):
        import importlib
        import sys

        import ankiocr_spark  # noqa: F401 -- as every package stage does

        dirs = {p: id(f._files) for p, f in sys.path_importer_cache.items()
                if isinstance(f, zipimport.zipimporter)}
        fresh = next((m for m in candidates if m not in sys.modules), "")
        origin = importlib.import_module(fresh).__file__ if fresh else ""
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "dirs": [json.dumps(dirs)],
                            "module": [fresh], "origin": [origin]})

    one_task = spark.range(1, numPartitions=1)
    last, warm = {}, []
    for _ in range(16):
        (r,) = one_task.mapInPandas(
            probe, "pid long, dirs string, module string, origin string"
        ).collect()
        dirs = json.loads(r["dirs"])
        if r["pid"] in last:
            warm.append((last[r["pid"]], dirs, r))
        last[r["pid"]] = dirs
        if len(warm) >= 2:
            break
    assert warm, "no worker was reused"
    for before, after, r in warm:
        kept = [p for p in before if p in after]
        assert any("pyspark.zip" in p for p in kept), (before, after)
        assert all(after[p] == before[p] for p in kept), (before, after)
    imported = [r for _, _, r in warm if r["module"]]
    assert imported, warm
    assert all("pyspark.zip" in r["origin"] for r in imported), imported
