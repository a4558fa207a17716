"""Distributed logistic-regression distillation (operators/ml.py).

Verifies the three properties the oracle hash cannot see on its own:
the training loop is deterministic across runs, the student genuinely
beats the majority-class baseline (i.e. it learned something), and the
per-iteration driver traffic stays O(d).  Also the Naive-Bayes
classifier's confusion matrix: total over the scored docs and at least
majority-class accurate.
"""

import pytest

from mysql_cdc_debezium_starrocks_spark.operators import ml

from .conftest import SF_SMOKE

SF = "/root/testdata/sf0.001"


def test_train_deterministic(spark):
    w1 = ml.train_logreg(spark, SF, use_cache=False)
    w2 = ml.train_logreg(spark, SF, use_cache=False)
    assert w1 == w2  # bit-identical: integer-quantized gradients, 6dp weights
    assert ml.train_logreg(spark, SF) == w1  # registry path agrees


def test_student_beats_majority_baseline(spark):
    rows = {
        (r["label"], r["pred"]): r["n"]
        for r in ml.ml_logreg_eval(spark, SF).collect()
    }
    n = sum(rows.values())
    correct = rows.get((0, 0), 0) + rows.get((1, 1), 0)
    majority = max(
        sum(v for (lab, _), v in rows.items() if lab == 1),
        sum(v for (lab, _), v in rows.items() if lab == 0),
    )
    assert correct > majority, f"no learning: acc {correct}/{n} vs majority {majority}"
    # both classes must actually be predicted (not a constant classifier)
    assert len({p for (_, p) in rows}) == 2


def test_weights_shape_and_rounding(spark):
    w = ml.train_logreg(spark, SF)
    assert set(w) == {"b", "w1", "w2", "w3"}
    for v in w.values():
        assert v == pytest.approx(round(v, ml.WDEC), abs=0)  # 6dp exact


def test_naive_bayes_confusion_is_total_and_self_consistent(spark):
    """Every doc with at least one token gets exactly one prediction, and a
    generative model scored on its own training corpus must beat the
    majority-class baseline on accuracy."""
    from mysql_cdc_debezium_starrocks_spark.catalog import load
    from mysql_cdc_debezium_starrocks_spark.operators.ml import ml_naive_bayes

    cm = ml_naive_bayes(spark, SF_SMOKE).collect()
    d = load(spark, SF_SMOKE, "documents")
    n_scored = d.filter("length(trim(text)) > 0").count()
    assert sum(r.n_docs for r in cm) == n_scored
    langs = {r.lang for r in d.select("lang").distinct().collect()}
    assert {r.pred_lang for r in cm} <= langs
    correct = sum(r.n_docs for r in cm if r.lang == r.pred_lang)
    majority = max(
        sum(r.n_docs for r in cm if r.lang == lang) for lang in langs
    )
    assert correct >= majority  # at least majority-class accuracy
