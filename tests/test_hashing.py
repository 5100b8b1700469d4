"""The bucketing hash family must stay bit-identical to the md5 contract
the DuckDB oracles replicate."""

import hashlib

from pyspark.sql import functions as F

from ankiocr_spark import hashing


def test_oracle_mode_matches_md5_contract(spark):
    toks = ["alpha", "beta", "the quick brown fox", "x", ""]
    df = spark.createDataFrame([(t,) for t in toks], "t string")
    rows = df.select(
        "t",
        hashing.hash60(F.col("t")).alias("h60"),
        hashing.hash31(F.col("t")).alias("h31"),
    ).collect()
    for r in rows:
        hexd = hashlib.md5(r["t"].encode()).hexdigest()
        assert r["h60"] == int(hexd[:15], 16)
        assert r["h31"] == int(hexd[:8], 16) % ((1 << 31) - 1)
