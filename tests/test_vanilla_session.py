"""Driver-environment realism: the grading driver builds its OWN bare
SparkSession (default confs: arrow conversion off, static partition
overwrite, no PYTHONPATH export) and calls __spark_entry__ against it.
Round 1 shipped a preflight that REJECTED such sessions; this guard runs
the entry contract under a vanilla session in a subprocess so that class
of regression fails loudly here first."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import sys
sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
# deliberately NO engine confs: arrow conversion + dynamic overwrite unset

import __spark_entry__ as e

df = e.entry(spark)
n = df.count()
assert n == 500, n
assert df.columns == ["url", "extracted_text"], df.columns

qs = e.queries()
flag = qs["flagship_extract"](spark, "/root/testdata/sf0.001")
assert flag.count() == 500
sample = {r["url"]: r["extracted_text"] for r in flag.limit(5).collect()}
assert all(v is None or isinstance(v, str) for v in sample.values())

# a second mapInPandas query (outlinks: 5 anchors per wrapped page, 2500
# on sf0.001) and a pure-JVM query both run
assert qs["outlinks"](spark, %(sf_dir)r).count() == 2500
assert qs["run_metrics"](spark, "/root/testdata/sf0.001").count() > 0
print("VANILLA-OK")
spark.stop()
"""


def test_entry_contract_under_vanilla_session(tmp_path, sf_dir):
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the driver exports nothing for us
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT % {"repo": REPO, "sf_dir": sf_dir}],
        capture_output=True, text=True, timeout=400,
        cwd=str(tmp_path),  # not the repo root — imports must not need cwd
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "VANILLA-OK" in proc.stdout


def test_default_master_is_sized_from_this_machine(monkeypatch):
    """Unset SPARK_GRAFT_CPUS sizes local[n] by the CPUs this process may
    run on (a tool that sets nothing used to run 32 tasks on any box)."""
    from ankiocr_spark.session import local_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == "3"
