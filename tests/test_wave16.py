"""Semantic unit tests for wave 16 (d110-d112, q101-q102)."""

from __future__ import annotations

import math

import numpy as np

from kaggle_data_pipeline_with_aws_spark.plans import registry
from kaggle_data_pipeline_with_aws_spark.plans.wave16 import _SEM_T
from kaggle_data_pipeline_with_aws_spark.sources.readers import load_table

registry.load_all()
Q = registry.QUERIES
SF = "/root/testdata/sf0.001"


def _vectors(spark):
    return {
        e["vec_id"]: np.array(e["embedding"], dtype=np.float64)
        for e in load_table(spark, SF, "embeddings").collect()
    }


def test_d110_matches_bruteforce_semdedup(spark):
    rows = {r["vec_id"]: r for r in Q["d110_semdedup"](spark, SF).collect()}
    embs = _vectors(spark)
    cents = {cid: embs[cid] for cid in range(16)}

    def cos(a, b):
        return round(
            float(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b)), 6
        )

    asg = {}
    for vid, x in embs.items():
        scores = {cid: cos(x, c) for cid, c in cents.items()}
        best = min(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        asg[vid] = best
    # replay the drop rule
    losers = set()
    cells: dict[int, list[int]] = {}
    for vid, (cid, _s) in asg.items():
        cells.setdefault(cid, []).append(vid)
    for cid, members in cells.items():
        members.sort()
        for i, va in enumerate(members):
            for vb in members[i + 1 :]:
                if cos(embs[va], embs[vb]) >= _SEM_T:
                    ca, cb = asg[va][1], asg[vb][1]
                    losers.add(
                        va if (ca < cb or (ca == cb and va > vb)) else vb
                    )
    for vid, r in rows.items():
        assert r["cell_id"] == asg[vid][0]
        assert abs(r["centroid_sim"] - asg[vid][1]) < 1e-9
        assert r["kept"] == (vid not in losers), vid
    assert len(rows) == len(embs)
    # every centroid vector is its own cell's best member and survives
    for cid in range(16):
        assert rows[cid]["kept"]


def test_d111_matches_numpy_gradient_descent(spark):
    rows = {r["step"]: r for r in Q["d111_logreg_steps"](spark, SF).collect()}
    X, y = [], []
    for d in load_table(spark, SF, "documents").collect():
        tok = d["text"].split(" ")
        X.append([1.0, len(tok) / 100.0, len(set(tok)) / len(tok)])
        y.append(1.0 if "the" in tok else 0.0)
    X, y = np.array(X), np.array(y)
    g1 = np.round((X * (0.5 - y)[:, None]).mean(axis=0), 6)
    w1 = -g1
    z = np.round(X @ w1, 6)
    p = 1.0 / (1.0 + np.exp(-z))
    g2 = np.round((X * (p - y)[:, None]).mean(axis=0), 6)
    w2 = np.round(w1 - g2, 6)
    got1 = [rows[1]["w_bias"], rows[1]["w_len"], rows[1]["w_ttr"]]
    got2 = [rows[2]["w_bias"], rows[2]["w_len"], rows[2]["w_ttr"]]
    assert np.allclose(got1, w1, atol=2e-6)
    assert np.allclose(got2, w2, atol=2e-6)
    # the bias must move toward the majority label
    pos_rate = y.mean()
    assert (rows[1]["w_bias"] > 0) == (pos_rate > 0.5)


def test_d112_buckets_partition_corpus(spark):
    rows = Q["d112_calibration_curve"](spark, SF).collect()
    docs = load_table(spark, SF, "documents").collect()
    assert sum(r["n"] for r in rows) == len(docs)
    for r in rows:
        assert 0.0 <= r["pos_rate"] <= 1.0
        # the bucket's mean score must lie inside the bucket bounds
        assert r["bucket"] / 10.0 <= r["mean_score"] < (r["bucket"] + 1) / 10.0


def test_q101_matches_scipy_free_ztest(spark):
    row = Q["q101_ab_ztest"](spark, SF).collect()[0]
    ev = load_table(spark, SF, "events").collect()
    click = [e["value"] for e in ev if e["event_type"] == "click"]
    view = [e["value"] for e in ev if e["event_type"] == "view"]

    def var_samp(xs):
        m = sum(xs) / len(xs)
        return sum((x - m) ** 2 for x in xs) / (len(xs) - 1)

    z = (sum(click) / len(click) - sum(view) / len(view)) / math.sqrt(
        var_samp(click) / len(click) + var_samp(view) / len(view)
    )
    assert row["n_click"] == len(click)
    assert row["n_view"] == len(view)
    assert abs(row["z"] - z) < 1e-4


def test_q102_weighted_indices_average_to_one(spark):
    rows = Q["q102_dow_seasonality"](spark, SF).collect()
    per_type: dict[str, list] = {}
    for r in rows:
        assert 0 <= r["dow"] <= 6
        per_type.setdefault(r["event_type"], []).append(r)
    for t, rs in per_type.items():
        total_n = sum(r["n"] for r in rs)
        weighted = sum(r["n"] * r["seasonal_index"] for r in rs) / total_n
        assert abs(weighted - 1.0) < 1e-4, t
