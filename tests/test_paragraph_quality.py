"""Invariant tests for paragraph-level dedup and per-lang quality
percentiles — each checked against an INDEPENDENT pure-Python
reimplementation (the oracle-parity sweep replicates the same SQL math,
so these are the checks that catch shared-math bugs)."""

import hashlib
import math

import duckdb
import numpy as np

from ankiocr_spark.datapipe.dedup import (
    PARA_DUP_MOD, PARA_TOKENS, q_dedup_paragraph,
)
from ankiocr_spark.datapipe.textstats import q_quality_percentiles


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


def _py_quality(text):
    toks = text.split(" ")
    return round(
        0.4 * min(1.0, len(toks) / 100.0) + 0.6 * (len(set(toks)) / len(toks)),
        6,
    )


def test_quality_percentiles_match_numpy(spark, sf_dir):
    rows = duckdb.sql(
        f"SELECT lang, text FROM read_parquet('{sf_dir}/documents.parquet') "
        "WHERE text IS NOT NULL"
    ).fetchall()
    by_lang = {}
    for lang, text in rows:
        by_lang.setdefault(lang, []).append(_py_quality(text))
    got = {r["lang"]: r for r in q_quality_percentiles(spark, sf_dir).collect()}
    assert set(got) == set(by_lang)
    for lang, vals in by_lang.items():
        r = got[lang]
        assert r["n_docs"] == len(vals)
        # Spark's exact percentile uses linear interpolation = numpy default
        assert abs(r["quality_p50"] - round(float(np.percentile(vals, 50)), 6)) <= 1e-6
        assert abs(r["quality_p90"] - round(float(np.percentile(vals, 90)), 6)) <= 1e-6
        assert r["quality_p50"] <= r["quality_p90"]


def test_vocab_topn_matches_counter(spark, sf_dir):
    from collections import Counter

    import duckdb

    from ankiocr_spark.datapipe.textstats import VOCAB_TOP_N, q_vocab_topn

    counts = Counter()
    for (text,) in duckdb.sql(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet') "
        "WHERE text IS NOT NULL"
    ).fetchall():
        counts.update(t for t in text.split(" ") if t)
    expected = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:VOCAB_TOP_N]
    got = [(r["token"], r["freq"]) for r in q_vocab_topn(spark, sf_dir).collect()]
    assert sorted(got) == sorted(expected)


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


def test_signal_correlation_matches_numpy(spark, sf_dir):
    """Independent Pearson via numpy over independently recomputed
    micro-quantized signals; also sanity: entropy and the
    diversity-weighted quality score must correlate POSITIVELY."""
    import math
    from collections import Counter

    from ankiocr_spark.datapipe.textstats import (
        ENTROPY_SCALE,
        q_signal_correlation,
    )

    xs, ys = [], []
    for _doc_id, text in duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') "
        "WHERE text IS NOT NULL"
    ).fetchall():
        raw = text.split(" ")
        toks = [t for t in raw if t]
        if not toks:
            continue
        q = round(
            0.4 * min(1.0, len(raw) / 100.0)
            + 0.6 * (len(set(raw)) / len(raw)),
            6,
        )
        n = len(toks)
        s = sum(
            round(c * math.log(c) * ENTROPY_SCALE)
            for c in Counter(toks).values()
        )
        ent = round(math.log(n) - s / ENTROPY_SCALE / n, 6)
        xs.append(round(q * 1e6))
        ys.append(round(ent * 1e6))
    expected = float(np.corrcoef(xs, ys)[0, 1])
    row = q_signal_correlation(spark, sf_dir).collect()[0]
    assert row["n_docs"] == len(xs)
    assert abs(row["pearson_r"] - expected) < 1e-5
    assert row["pearson_r"] > 0.0


def test_zipf_alpha_matches_python_fit(spark, sf_dir):
    """From-scratch least-squares fit over the same quantized-log points:
    python recomputes the token counts, the (freq desc, token asc) head
    ranking, the micro-nat quantization, the integer moments, and the
    slope — the engine's one-row report must match to the rounding
    grain, and alpha must be positive (frequencies DECREASE with rank by
    construction of the ranking)."""
    import math
    from collections import Counter

    import duckdb

    from ankiocr_spark.datapipe.textstats import (
        ZIPF_TOP, _ZIPF_Q, q_zipf_alpha,
    )

    got = q_zipf_alpha(spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0]

    counts = Counter()
    for (text,) in duckdb.sql(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet') "
        "WHERE text IS NOT NULL"
    ).fetchall():
        counts.update(t for t in text.split(" ") if t != "")
    head = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:ZIPF_TOP]
    pts = [
        (round(math.log(rank) * _ZIPF_Q), round(math.log(freq) * _ZIPF_Q))
        for rank, (_, freq) in enumerate(head, start=1)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n / _ZIPF_Q

    assert r["n_head_tokens"] == n
    assert abs(r["zipf_alpha"] - round(-slope, 6)) <= 1e-6
    assert abs(r["ln_c"] - round(intercept, 6)) <= 1e-6
    assert r["zipf_alpha"] > 0


def test_bpe_pair_counts_matches_python_trainer_step(spark, sf_dir):
    """From-scratch recompute of BPE iteration 0: python builds the
    word→frequency table, expands each distinct word (len ≥ 2) into its
    adjacent character pairs, and sums word frequencies per pair — the
    engine's ranked head must equal the python head exactly (count desc,
    pair asc is a total order, so the LIMIT cut is deterministic), and
    the argmax pair (the first BPE merge) must agree."""
    from collections import Counter

    import duckdb

    from ankiocr_spark.datapipe.textstats import (
        BPE_PAIR_TOP, q_bpe_pair_counts,
    )

    got = [
        (r["pair"], r["pair_count"])
        for r in q_bpe_pair_counts(spark, sf_dir).collect()
    ]

    wf = Counter()
    for (text,) in duckdb.sql(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet') "
        "WHERE text IS NOT NULL"
    ).fetchall():
        wf.update(t for t in text.split(" ") if t != "")
    pc = Counter()
    for word, f in wf.items():
        if len(word) >= 2:
            for i in range(len(word) - 1):
                pc[word[i : i + 2]] += f
    want = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_PAIR_TOP]

    assert got == want
    assert got[0] == want[0]  # the first merge the trainer would pick
    # pair stage runs over the distinct-word relation, not the corpus:
    # every pair count is bounded by total token occurrences
    total_tokens = sum(wf.values())
    assert all(c <= total_tokens for _, c in got)


def test_corpus_health_matches_python_recompute(spark, sf_dir):
    """Every field of the one-row dashboard recomputed from the raw
    parquet in python: counts, token volume, exact-duplicate fraction,
    language spread, and the quantized-integer mean quality — plus the
    bounds the oracle can't state (distinct_texts never exceeds the
    non-empty count; dup_frac in [0, 1])."""
    import hashlib

    import duckdb

    from ankiocr_spark.datapipe.textstats import _HEALTH_Q, q_corpus_health

    rows = q_corpus_health(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]

    raw = duckdb.sql(
        f"SELECT text, lang FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    n_docs = len(raw)
    n_empty = sum(1 for t, _ in raw if t is None)
    digests = {hashlib.md5(t.encode()).hexdigest() for t, _ in raw if t is not None}
    total_tokens = sum(
        len([x for x in t.split(" ") if x != ""]) for t, _ in raw if t is not None
    )
    qsum, qn = 0, 0
    for t, _ in raw:
        if t is None:
            continue
        toks = t.split(" ")
        q = round(
            0.4 * min(1.0, len(toks) / 100.0)
            + 0.6 * (len(set(toks)) / len(toks)),
            6,
        )
        qsum += round(q * _HEALTH_Q)
        qn += 1

    assert r["n_docs"] == n_docs
    assert r["n_empty"] == n_empty
    assert r["total_tokens"] == total_tokens
    assert r["distinct_texts"] == len(digests)
    # countDistinct ignores NULLs in both engines — so must the recompute
    assert r["n_langs"] == len({l for _, l in raw if l is not None})
    assert r["dup_frac"] == round(
        (n_docs - n_empty - len(digests)) / (n_docs - n_empty), 6
    )
    assert r["mean_quality"] == round(qsum / qn / _HEALTH_Q, 6)
    assert r["distinct_texts"] <= n_docs - n_empty
    assert 0.0 <= r["dup_frac"] <= 1.0


def test_corpus_health_null_text_and_null_lang_branches(spark, tmp_path):
    """The shipped fixtures contain zero NULL texts, so every NULL guard
    in corpus_health (is_empty, the digest/quality null-pass, n_toks → 0,
    dup_frac's empty-exclusion, countDistinct's NULL-lang skip) is dead
    under the oracle sweep (review find) — this synthetic corpus makes
    each branch load-bearing: 3 NULL texts, 1 NULL lang, and one
    duplicated text among 4 non-empty docs."""
    import duckdb

    from ankiocr_spark.datapipe.textstats import _HEALTH_Q, q_corpus_health

    rows = [
        (1, "alpha beta beta", "en"),
        (2, "alpha beta beta", "de"),     # exact duplicate of doc 1
        (3, "gamma", None),               # NULL lang, counted doc
        (4, "delta epsilon", "fr"),
        (5, None, "en"),                  # NULL text
        (6, None, None),                  # NULL text AND lang
        (7, None, "xx"),
    ]
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES "
        + ", ".join(
            "(%d, %s, %s)"
            % (i, "NULL" if t is None else "'%s'" % t,
               "NULL" if l is None else "'%s'" % l)
            for i, t, l in rows
        )
        + ") AS t(doc_id, text, lang)) TO '%s' (FORMAT parquet)"
        % (tmp_path / "documents.parquet")
    )

    r = q_corpus_health(spark, str(tmp_path)).collect()[0]
    assert r["n_docs"] == 7
    assert r["n_empty"] == 3
    assert r["total_tokens"] == 3 + 3 + 1 + 2
    assert r["distinct_texts"] == 3            # dup collapses, NULLs skipped
    assert r["n_langs"] == 4                   # en, de, fr, xx — NULL skipped
    assert r["dup_frac"] == round((4 - 3) / 4, 6)

    def q(text):
        toks = text.split(" ")
        return round(
            round(0.4 * min(1.0, len(toks) / 100.0)
                  + 0.6 * (len(set(toks)) / len(toks)), 6) * _HEALTH_Q
        )

    want_mean = round(
        sum(q(t) for _, t, _ in rows if t is not None) / 4 / _HEALTH_Q, 6
    )
    assert r["mean_quality"] == want_mean
