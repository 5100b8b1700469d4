"""Similarity-search invariants: the scale-shaped (bucketed) near-dup query
must be exactly precise (every emitted pair verified by exact cosine), have
useful recall vs the brute-force all-pairs oracle, and carry an equi-join
physical plan — no cartesian anywhere (round-1 VERDICT perf item #1)."""

from ankiocr_spark.datapipe.similarity import (
    COSINE_THRESHOLD,
    neardup_cosine_bruteforce,
    q_neardup_cosine,
)


def _pairs(df):
    return {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in df.collect()
    }


def test_neardup_bucketed_precision_and_recall(spark, sf_dir):
    exact = _pairs(neardup_cosine_bruteforce(spark, sf_dir))
    got = _pairs(q_neardup_cosine(spark, sf_dir))
    # precision is EXACT: every emitted pair is a true near-dup with the
    # same rounded cosine (the bucket join only prunes candidates)
    for pair, cos in got.items():
        assert pair in exact and exact[pair] == cos, pair
    # recall: banded LSH must recover a useful fraction of the true pairs
    # (deterministic corpus + deterministic hyperplanes → a fixed number)
    if exact:
        recall = len(got) / len(exact)
        assert recall >= 0.3, f"recall {recall:.2f} over {len(exact)} pairs"


def test_neardup_plan_has_no_cartesian(spark, sf_dir):
    plan = q_neardup_cosine(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semdedup_pairwise_rule_and_plan(spark, sf_dir):
    """SemDeDup invariants, recomputed driver-side from the raw embeddings
    (margin-tolerant so Spark's HALF_UP rounding can't flake the check):
    (1) no two KEPT members of a cell are τ-close; (2) every DROPPED
    member is dominated by a higher-priority τ-close cellmate; (3) the
    priority-minimum of every cell survives; (4) the corpus splits (some
    docs dropped, most kept); (5) no unguarded cartesian in the plan
    (the only nested-loop join is the broadcast 8-row centroid probe)."""
    import math

    from ankiocr_spark.datapipe.similarity import SEMDEDUP_TAU, q_semdedup

    df = q_semdedup(spark, sf_dir)
    rows = df.collect()
    emb = {
        r["vec_id"]: r["embedding"]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    assert len(rows) == len(emb)
    n_dropped = sum(r["dropped"] for r in rows)
    assert 0 < n_dropped < len(rows) * 0.5, n_dropped

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, members in by_cell.items():
        # (3) the (cc asc, vec_id asc) minimum is never dropped
        prio_min = min(members, key=lambda r: (r["cc"], r["vec_id"]))
        assert not prio_min["dropped"], (cell, prio_min)
        for i, a in enumerate(members):
            dominated = False
            for b in members:
                if a["vec_id"] == b["vec_id"]:
                    continue
                c = cos(emb[a["vec_id"]], emb[b["vec_id"]])
                higher_prio = (b["cc"], b["vec_id"]) < (a["cc"], a["vec_id"])
                if not a["dropped"] and not b["dropped"]:
                    # (1) kept pairs are never clearly over threshold
                    assert c < SEMDEDUP_TAU + 1e-6, (a["vec_id"], b["vec_id"], c)
                if higher_prio and c >= SEMDEDUP_TAU - 1e-6:
                    dominated = True
            if a["dropped"]:
                assert dominated, a  # (2)

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
