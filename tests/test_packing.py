"""Invariant tests for training-example assembly (packing.py) and the
cross-corpus dedup probe — the algebraic properties the oracle-parity
hash cannot see (it would match a wrong-but-mirrored computation)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from ankiocr_spark.datapipe import dedup, packing


@pytest.fixture(scope="module")
def packed(spark, sf_dir):
    return packing.q_seq_pack(spark, sf_dir).collect()


def test_seq_pack_conserves_tokens(spark, sf_dir, packed):
    """Chunk token budgets partition the corpus token count exactly —
    no token is dropped or double-counted by the overlap arithmetic."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    total = docs.where(F.col("text").isNotNull()).select(
        F.sum(
            F.size(F.filter(F.split("text", " "), lambda x: x != ""))
        ).alias("t")
    ).collect()[0]["t"]
    assert sum(r["chunk_tokens"] for r in packed) == total


def test_seq_pack_chunks_are_full_and_contiguous(packed):
    """Every chunk except the last is exactly PACK_CHUNK_TOKENS, chunk
    ids are gapless from 0, and doc ranges of consecutive chunks touch
    or overlap (concat-and-chunk leaves no seams)."""
    rows = sorted(packed, key=lambda r: r["chunk_id"])
    assert [r["chunk_id"] for r in rows] == list(range(len(rows)))
    for r in rows[:-1]:
        assert r["chunk_tokens"] == packing.PACK_CHUNK_TOKENS
    assert 0 < rows[-1]["chunk_tokens"] <= packing.PACK_CHUNK_TOKENS
    for a, b in zip(rows, rows[1:]):
        assert a["first_doc"] <= a["last_doc"]
        # doc ranges never go backwards and never skip past a straddler
        # (>= not == +1: zero-token docs are packed as gaps in doc_id)
        assert a["last_doc"] <= b["first_doc"]


def test_seq_pack_bucket_size_invariance(spark, sf_dir, packed, monkeypatch):
    """The two-phase prefix sum is associative: a different PACK_BUCKET
    decomposition must yield the identical packing. This is the property
    that lets PACK_BUCKET scale with the corpus at 10^12 docs."""
    monkeypatch.setattr(packing, "PACK_BUCKET", 7)
    alt = packing.q_seq_pack(spark, sf_dir).collect()
    key = lambda rows: sorted(tuple(r) for r in rows)  # noqa: E731
    assert key(alt) == key(packed)


def test_seq_pack_guards_offset_relation_size(spark, sf_dir, monkeypatch):
    """A mis-sized PACK_BUCKET must fail loudly (VERDICT r4 nit #1), not
    silently run the offset prefix sum as a single-partition sort of the
    corpus. The guard rides the offset window's own exchange, so the cap
    fires at action time with zero cost in the healthy case."""
    monkeypatch.setattr(packing, "MAX_OFFSET_BUCKETS", 2)
    with pytest.raises(Exception, match="PACK_BUCKET is mis-sized"):
        packing.q_seq_pack(spark, sf_dir).collect()


def test_train_val_split_partitions_corpus(spark, sf_dir):
    rows = packing.q_train_val_split(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.where(F.col("text").isNotNull()).count()
    assert sum(r["n_docs"] for r in rows) == n
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-5
    by = {r["split"]: r for r in rows}
    assert set(by) <= {"train", "val", "test"}
    # 90/5/5 within fixture-size tolerance
    assert by["train"]["share"] > 0.8


def test_train_val_split_is_stable(spark, sf_dir):
    """Same corpus → byte-identical ledger (hash split, not sampling)."""
    a = sorted(map(tuple, packing.q_train_val_split(spark, sf_dir).collect()))
    b = sorted(map(tuple, packing.q_train_val_split(spark, sf_dir).collect()))
    assert a == b


def test_crossdedup_drops_exact_cross_parity_copies(spark, sf_dir):
    """Ground truth the hash-parity check can't state: any NEW (odd) doc
    whose text equals some REF (even) doc's text shares ALL bands with it
    and must be flagged dropped."""
    out = {r["doc_id"]: r for r in dedup.q_crossdedup_lsh(spark, sf_dir).collect()}
    con = duckdb.connect()
    exact = con.execute(
        f"""
        SELECT DISTINCT n.doc_id
        FROM read_parquet('{sf_dir}/documents.parquet') n
        JOIN read_parquet('{sf_dir}/documents.parquet') r USING (text)
        WHERE n.doc_id % 2 = 1 AND r.doc_id % 2 = 0
        """
    ).fetchall()
    for (doc_id,) in exact:
        assert out[doc_id]["dropped"], f"exact copy {doc_id} not dropped"
    # every verdict row is a new-parity doc and counts are consistent
    for r in out.values():
        assert r["doc_id"] % 2 == 1
        assert r["dropped"] == (r["n_ref_matches"] > 0)


def test_split_leakage_matches_python_recompute(spark, sf_dir):
    """Full from-scratch recompute of the leakage audit: python rebuilds
    the md5 split, the planted-leak injection, the 8-gram sets, and the
    train-probe — the engine's report must match row-for-row. Also
    asserts the planted slice really leaks (every val/test member of the
    LEAK_MOD slice is flagged, given the slice straddles train)."""
    import hashlib

    from ankiocr_spark.datapipe.packing import (
        LEAK_MOD, LEAK_NGRAM, LEAK_PHRASE, SPLIT_BUCKETS, TRAIN_LT, VAL_LT,
        q_split_leakage,
    )

    got = {r["doc_id"]: r for r in q_split_leakage(spark, sf_dir).collect()}

    def split_of(doc_id):
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % SPLIT_BUCKETS
        return "train" if b < TRAIN_LT else ("val" if b < VAL_LT else "test")

    def grams(text):
        toks = text.split(" ")
        if len(toks) >= LEAK_NGRAM:
            return {
                " ".join(toks[i:i + LEAK_NGRAM])
                for i in range(len(toks) - LEAK_NGRAM + 1)
            }
        return {text}

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    train_set, evals = set(), {}
    slice_in_train = False
    for d in docs:
        if d["text"] is None:
            continue
        text = d["text"]
        if d["doc_id"] % LEAK_MOD == 0:
            text = text + " " + LEAK_PHRASE
        s = split_of(d["doc_id"])
        if s == "train":
            train_set |= grams(text)
            slice_in_train |= d["doc_id"] % LEAK_MOD == 0
        else:
            evals[d["doc_id"]] = (s, grams(text))

    assert slice_in_train  # the planted leak really straddles the split
    assert set(got) == set(evals)
    n_flagged = 0
    for doc_id, (s, g) in evals.items():
        n_leaked = len(g & train_set)
        r = got[doc_id]
        assert r["split"] == s and r["n_leaked"] == n_leaked, doc_id
        assert r["leaked"] == (n_leaked > 0)
        if doc_id % LEAK_MOD == 0:
            assert r["leaked"], doc_id  # every eval slice member is caught
            n_flagged += 1
    assert n_flagged > 0
