"""Invariant tests for paragraph-level dedup, the classifier gates and
the token-entropy gate — each checked against an INDEPENDENT pure-Python
reimplementation (the oracle-parity sweep replicates the same SQL math,
so these are the checks that catch shared-math bugs)."""

import hashlib
import math

import duckdb

from ankiocr_spark.datapipe.dedup import (
    PARA_DUP_MOD, PARA_TOKENS, q_dedup_paragraph,
)


def _corpus(sf_dir):
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') "
        "WHERE text IS NOT NULL ORDER BY doc_id"
    ).fetchall()
    corpus = list(rows)
    corpus += [
        (doc_id + 2000000, text)
        for doc_id, text in rows
        if doc_id % PARA_DUP_MOD == 0
    ]
    return corpus


def _paragraphs(text):
    toks = text.split(" ")
    n = math.ceil(len(toks) / PARA_TOKENS)
    return [
        " ".join(toks[i * PARA_TOKENS:(i + 1) * PARA_TOKENS]) for i in range(n)
    ]


def test_dedup_paragraph_keeps_exactly_first_occurrence(spark, sf_dir):
    # independent reimplementation: first (doc_id, para_idx) per paragraph
    expected = {}
    for doc_id, text in _corpus(sf_dir):
        for idx, para in enumerate(_paragraphs(text)):
            key = (doc_id, idx)
            if para not in expected or key < expected[para]:
                expected[para] = key
    got = {
        r["paragraph"]: (r["doc_id"], r["para_idx"])
        for r in q_dedup_paragraph(spark, sf_dir).collect()
    }
    assert got == expected
    # the re-crawl copy of a doc can never win: its base doc holds the
    # same paragraphs at a smaller doc_id
    assert all(doc_id < 2000000 for doc_id, _ in got.values())


def test_dedup_paragraph_output_has_no_hash_collisions(spark, sf_dir):
    # the ORACLE partitions by md5(paragraph) (and a 100-TB run would
    # group by the digest); distinct output paragraphs must map to
    # distinct digests or that keeper rule silently merges two texts
    paras = [r["paragraph"] for r in q_dedup_paragraph(spark, sf_dir).collect()]
    digests = {hashlib.md5(p.encode()).hexdigest() for p in paras}
    assert len(digests) == len(paras)


def test_classifier_score_matches_python(spark, sf_dir):
    """Independent md5-weight reimplementation + the keep ⇔ Σw ≥ 0
    contract (the gate compares the INTEGER sum, so the boundary is
    exact, never an ulp of the rounded double)."""
    import hashlib as _hl

    from ankiocr_spark.datapipe.textstats import (
        CLF_HALF,
        CLF_MOD,
        q_classifier_score,
    )

    def w(tok: str) -> int:
        h = int(_hl.md5(tok.encode()).hexdigest()[:15], 16)
        return h % CLF_MOD - CLF_HALF

    docs = {
        doc_id: [t for t in text.split(" ") if t]
        for doc_id, text in duckdb.sql(
            f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') "
            "WHERE text IS NOT NULL"
        ).fetchall()
        if [t for t in text.split(" ") if t]
    }
    got = {r["doc_id"]: r for r in q_classifier_score(spark, sf_dir).collect()}
    assert set(got) == set(docs)
    for doc_id, toks in docs.items():
        wsum = sum(w(t) for t in toks)
        r = got[doc_id]
        assert r["n_tokens"] == len(toks)
        assert r["keep"] == (wsum >= 0)
        assert abs(r["clf_score"] - wsum / (CLF_HALF * len(toks))) < 1e-6
        assert -1.0 <= r["clf_score"] <= 1.0


def test_classifier_plan_is_shuffle_free(spark, sf_dir):
    """The linear gate must fuse into the scan: zero Exchange — the
    property that makes it the free first filter at corpus scale."""
    from ankiocr_spark.datapipe.textstats import q_classifier_score

    plan = (
        q_classifier_score(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_classifier_train_recovers_planted_weights(spark):
    """The NB fit must recover a planted distribution (VERDICT r4 #3):
    tokens exclusive to the positive class get positive fitted log-odds,
    negative-class tokens negative — so scoring with the engine-fitted
    weights separates the classes perfectly. Exact values are checked
    against an independent Python refit (same md5 bucketing, same
    micro-nat quantization)."""
    import hashlib as _hl
    import math
    from collections import Counter

    from ankiocr_spark.datapipe.textstats import (
        CLF_NB_BUCKETS,
        CLF_NB_SCALE,
        nb_train_score,
    )

    pos_docs = {i: f"alpha{i % 3} alpha{(i + 1) % 3} shared" for i in range(12)}
    neg_docs = {
        100 + i: f"beta{i % 3} beta{(i + 1) % 3} shared" for i in range(12)
    }
    rows = [(d, 1, t) for d, t in pos_docs.items()] + [
        (d, 0, t) for d, t in neg_docs.items()
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, is_pos int, text string")
    got = {r["doc_id"]: r for r in nb_train_score(df).collect()}

    def bucket(tok: str) -> int:
        return int(_hl.md5(tok.encode()).hexdigest()[:15], 16) % CLF_NB_BUCKETS

    n_all, n_pos = Counter(), Counter()
    for d, is_pos, text in rows:
        for t in text.split(" "):
            b = bucket(t)
            n_all[b] += 1
            n_pos[b] += is_pos
    pos_tot = sum(n_pos.values())
    neg_tot = sum(n_all.values()) - pos_tot
    w = {
        b: round(
            (
                math.log((n_pos[b] + 1) / (pos_tot + CLF_NB_BUCKETS))
                - math.log((n_all[b] - n_pos[b] + 1) / (neg_tot + CLF_NB_BUCKETS))
            )
            * CLF_NB_SCALE
        )
        for b in n_all
    }
    for d, is_pos, text in rows:
        toks = text.split(" ")
        s = sum(w[bucket(t)] for t in toks)
        r = got[d]
        assert r["n_tokens"] == len(toks)
        assert r["pred_target"] == (s >= 0)
        assert abs(r["nb_logodds"] - round(s / CLF_NB_SCALE / len(toks), 6)) < 1e-9
        # planted separation: exclusive tokens dominate the shared one
        assert r["pred_target"] == bool(is_pos)


def test_classifier_train_plan_is_two_pass_fit_score(spark, sf_dir):
    """Fit pass + score pass — the q_dsir_weight contract: class totals
    ride the 4096-row counts relation as a window, never a third corpus
    scan; the fitted weights come back as a broadcast join."""
    from ankiocr_spark.datapipe.textstats import q_classifier_train

    plan = (
        q_classifier_train(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 2
    assert "BroadcastHashJoin" in plan


def test_token_entropy_matches_python(spark, sf_dir):
    """Independent entropy computation + the gate-bites check (the gate
    must drop a real slice of the fixture, and keep must agree with the
    rounded value)."""
    import math
    from collections import Counter

    from ankiocr_spark.datapipe.textstats import (
        ENTROPY_MIN,
        ENTROPY_SCALE,
        q_token_entropy,
    )

    got = {
        r["doc_id"]: (r["n_tokens"], r["token_entropy"], r["keep"])
        for r in q_token_entropy(spark, sf_dir).collect()
    }
    dropped = 0
    for doc_id, text in duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') "
        "WHERE text IS NOT NULL"
    ).fetchall():
        toks = [t for t in text.split(" ") if t]
        if not toks:
            continue
        n = len(toks)
        s = sum(
            round(c * math.log(c) * ENTROPY_SCALE)
            for c in Counter(toks).values()
        )
        ent = round(math.log(n) - s / ENTROPY_SCALE / n, 6)
        keep = ent >= ENTROPY_MIN
        dropped += not keep
        assert got[doc_id] == (n, ent, keep), doc_id
    assert 0 < dropped < len(got)
