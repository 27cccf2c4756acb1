"""ML determinism tests (SURVEY.md §5.4): fixed seeds, schema/rowcount of
transform output, metric sanity ranges, model persist/load roundtrip.

The embeddings fixture's labels are synthetic (accuracy ≈ chance per
FIXTURES.md) — we assert pipeline SHAPE and metric bounds, not skill.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.ml.classification import LogisticRegression, LogisticRegressionModel
from pyspark.ml.evaluation import MulticlassClassificationEvaluator

from classification_problem_with_pyspark_spark.operators.ml import (
    _embedding_features,
    multiclass_metrics,
    split_train_test,
)
from classification_problem_with_pyspark_spark.registry import QUERIES, load_all_modules
from tests.conftest import SF_DIR

load_all_modules()


def test_feature_pipeline_shape(spark):
    out = QUERIES["ml_feature_pipeline"].fn(spark, SF_DIR)
    rows = out.collect()
    assert len(rows) == 500  # documents rowcount at sf0.01 (FIXTURES.md)
    dims = {r["feature_dim"] for r in rows}
    assert len(dims) == 1  # every row assembled to the same dimensionality
    assert out.columns == ["doc_id", "lang_idx", "source_idx", "feature_dim"]


def test_split_is_deterministic(spark):
    feats = _embedding_features(spark, SF_DIR)
    a_train, a_test = split_train_test(feats)
    b_train, b_test = split_train_test(feats)
    assert a_train.count() == b_train.count()
    assert sorted(r.vec_id for r in a_test.select("vec_id").collect()) == sorted(
        r.vec_id for r in b_test.select("vec_id").collect()
    )


def test_evaluator_metrics_in_range(spark):
    rows = {r["metric"]: r["value"] for r in QUERIES["ml_evaluate"].fn(spark, SF_DIR).collect()}
    assert set(rows) == {
        "binary:areaUnderROC",
        "binary:areaUnderPR",
        "multiclass:accuracy",
        "multiclass:f1",
        "multiclass:weightedPrecision",
    }
    for k, v in rows.items():
        assert 0.0 <= v <= 1.0, (k, v)

    # the confusion-aggregate metrics against MLlib's evaluator: on the
    # fixture's binary predictions, and on 10 classes where label 0 is
    # never predicted and class 9 is predicted but never labelled
    feats = _embedding_features(spark, SF_DIR)
    train, test = split_train_test(feats)
    binary = LogisticRegression(
        featuresCol="features", labelCol="label_bin", maxIter=20, regParam=0.01
    ).fit(train).transform(test)
    ten = spark.range(997).selectExpr(
        "CAST(id % 9 AS DOUBLE) AS label",
        "CAST(1 + (id * 7 + id DIV 3) % 9 AS DOUBLE) AS prediction",
    )
    for pred, label in ((binary, "label_bin"), (ten, "label")):
        got = multiclass_metrics(pred, label)
        assert list(got) == ["accuracy", "f1", "weightedPrecision"]
        for metric, v in got.items():
            want = MulticlassClassificationEvaluator(
                labelCol=label, predictionCol="prediction", metricName=metric
            ).evaluate(pred)
            assert round(v, 6) == round(want, 6), (label, metric, v, want)
            if label == "label_bin":
                assert rows[f"multiclass:{metric}"] == round(v, 6)


def test_model_persist_load_roundtrip(spark):
    feats = _embedding_features(spark, SF_DIR)
    train, test = split_train_test(feats)
    model = LogisticRegression(
        featuresCol="features", labelCol="label_bin", maxIter=5, regParam=0.01
    ).fit(train)
    os.makedirs("/root/repo/.tmp", exist_ok=True)
    path = tempfile.mkdtemp(dir="/root/repo/.tmp")
    try:
        model.write().overwrite().save(path)
        loaded = LogisticRegressionModel.load(path)
        orig = model.transform(test).select("vec_id", "prediction").collect()
        redo = loaded.transform(test).select("vec_id", "prediction").collect()
        assert sorted(map(tuple, orig)) == sorted(map(tuple, redo))
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_feature_extras_dims_and_determinism(spark):
    from classification_problem_with_pyspark_spark.registry import QUERIES

    df = QUERIES["ml_feature_extras"].fn(spark, SF_DIR)
    rows = {r.vec_id: r for r in df.collect()}
    assert all(r.pca_dim == 8 and r.scaled_dim == 8 and r.selected_dim == 16 for r in rows.values())
    again = {r.vec_id: r for r in QUERIES["ml_feature_extras"].fn(spark, SF_DIR).collect()}
    assert {k: v.scaled_first for k, v in rows.items()} == {
        k: v.scaled_first for k, v in again.items()
    }


def test_fm_confusion_is_seeded_deterministic(spark):
    from classification_problem_with_pyspark_spark.registry import QUERIES

    a = sorted(map(tuple, QUERIES["ml_train_fm"].fn(spark, SF_DIR).collect()))
    b = sorted(map(tuple, QUERIES["ml_train_fm"].fn(spark, SF_DIR).collect()))
    assert a == b and sum(r[2] for r in a) > 0


def test_cluster_variants_cover_both_algos(spark):
    from classification_problem_with_pyspark_spark.registry import QUERIES

    rows = QUERIES["ml_cluster_variants"].fn(spark, SF_DIR).collect()
    by_algo = {}
    for r in rows:
        by_algo.setdefault(r.algo, 0)
        by_algo[r.algo] += r.n
    # every input row is assigned exactly once per algorithm
    assert set(by_algo) == {"bisecting_kmeans", "gaussian_mixture"}
    assert len(set(by_algo.values())) == 1


def test_lda_topics_shape(spark):
    from classification_problem_with_pyspark_spark.registry import QUERIES

    rows = QUERIES["ml_topics_lda"].fn(spark, SF_DIR).collect()
    assert {r.topic for r in rows} == set(range(5))
    assert all(0 <= r.rank < 5 for r in rows)
    assert all(isinstance(r.term, str) and r.term for r in rows)


def test_als_recommendations_deterministic(spark):
    from classification_problem_with_pyspark_spark.registry import QUERIES

    a = sorted(map(tuple, QUERIES["ml_recommend_als"].fn(spark, SF_DIR).collect()))
    b = sorted(map(tuple, QUERIES["ml_recommend_als"].fn(spark, SF_DIR).collect()))
    assert a == b
    # every user gets exactly one rank-0 and one rank-1 recommendation
    n_by_rank = {}
    for etype, rank, n in a:
        n_by_rank[rank] = n_by_rank.get(rank, 0) + n
    assert n_by_rank[0] == n_by_rank[1]


def test_regression_metrics_sane(spark):
    from classification_problem_with_pyspark_spark.registry import QUERIES

    rows = {r.model: r for r in QUERIES["ml_train_regression"].fn(spark, SF_DIR).collect()}
    assert set(rows) == {"linear_regression", "glm_gaussian"}
    for r in rows.values():
        assert r.rmse > 0 and r.n_test > 0
        assert -1.0 <= r.r2 <= 1.0
    # identical model family fitted two ways -> nearly identical metrics
    assert abs(rows["linear_regression"].rmse - rows["glm_gaussian"].rmse) < 1.0


def test_quantile_discretizer_buckets_roughly_equal(spark):
    from classification_problem_with_pyspark_spark.registry import QUERIES

    rows = QUERIES["ml_feature_discretize"].fn(spark, SF_DIR).collect()
    assert len(rows) == 4
    total = sum(r.n_orders for r in rows)
    for r in rows:
        assert 0.15 * total < r.n_orders < 0.35 * total
    # bucket value ranges must not overlap
    by_bucket = sorted(rows, key=lambda r: r.bucket)
    for lo, hi in zip(by_bucket, by_bucket[1:]):
        assert lo.max_price <= hi.min_price


def test_stat_correlation_matches_exact_moments(spark):
    """ml_stat_correlation (MLlib Pearson) must agree with the exact
    moment formula (the agg_corr_covar derivation) within float noise."""
    import math

    from pyspark.sql import functions as F

    from classification_problem_with_pyspark_spark.registry import QUERIES
    from classification_problem_with_pyspark_spark.sources.catalog import load

    got = {
        (r.i, r.j): r.pearson_corr
        for r in QUERIES["ml_stat_correlation"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == {(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)}

    from pyspark.ml.functions import array_to_vector, vector_to_array

    e = load(spark, SF_DIR, "embeddings")
    arr = vector_to_array(array_to_vector("embedding"))
    cols = e.select(*[arr[i].alias(f"d{i}") for i in range(4)]).collect()
    n = len(cols)
    for (i, j), mllib_val in got.items():
        xs = [r[f"d{i}"] for r in cols]
        ys = [r[f"d{j}"] for r in cols]
        mx, my = sum(xs) / n, sum(ys) / n
        sxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
        sxx = sum((x - mx) ** 2 for x in xs)
        syy = sum((y - my) ** 2 for y in ys)
        exact = sxy / math.sqrt(sxx * syy)
        assert abs(mllib_val - exact) < 1e-5, (i, j, mllib_val, exact)


def test_stat_chi2_matches_hand_contingency(spark):
    """ml_stat_chi2 statistic for feature 0 must equal the chi-square
    statistic of the hand-built (bucket x label) contingency table."""
    from pyspark.ml.functions import array_to_vector, vector_to_array

    from classification_problem_with_pyspark_spark.registry import QUERIES
    from classification_problem_with_pyspark_spark.sources.catalog import load

    rows = QUERIES["ml_stat_chi2"].fn(spark, SF_DIR).collect()
    assert {r.feature_idx for r in rows} == {0, 1, 2}
    for r in rows:
        assert r.dof == 9  # (2 buckets - 1) x (10 classes - 1)
        assert 0.0 <= r.p_value <= 1.0

    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.sql import functions as F

    e = load(spark, SF_DIR, "embeddings")
    arr = vector_to_array(array_to_vector("embedding"))
    counts = (
        e.select("label", (arr[0] > 0).cast("int").alias("b"))
        .groupBy("label", "b")
        .count()
        .collect()
    )
    obs = {(r.label, r.b): r["count"] for r in counts}
    labels = sorted({k[0] for k in obs})
    buckets = sorted({k[1] for k in obs})
    total = sum(obs.values())
    row_t = {l: sum(obs.get((l, b), 0) for b in buckets) for l in labels}
    col_t = {b: sum(obs.get((l, b), 0) for l in labels) for b in buckets}
    chi2 = sum(
        (obs.get((l, b), 0) - row_t[l] * col_t[b] / total) ** 2
        / (row_t[l] * col_t[b] / total)
        for l in labels
        for b in buckets
    )
    f0 = next(r for r in rows if r.feature_idx == 0)
    assert abs(f0.chi2_statistic - chi2) < 1e-3, (f0.chi2_statistic, chi2)


def test_tvs_picks_exactly_one_best(spark):
    from classification_problem_with_pyspark_spark.registry import QUERIES

    rows = QUERIES["ml_tune_tvs"].fn(spark, SF_DIR).collect()
    assert len(rows) == 3
    assert sum(r.is_best for r in rows) == 1
    for r in rows:
        assert 0.0 <= r.val_auc <= 1.0


def test_rformula_encodes_expected_layout(spark):
    from classification_problem_with_pyspark_spark.registry import QUERIES

    rows = QUERIES["ml_feature_rformula"].fn(spark, SF_DIR).collect()
    # 3 returnflag groups; features = qty + discount + 2 one-hot slots
    assert {r.l_returnflag for r in rows} == {"A", "N", "R"}
    for r in rows:
        assert r.n_features == 4
        assert r.n_rows > 0 and r.sum_qty_term > 0


def test_model_persist_load_roundtrip(spark, tmp_path):
    """PipelineModel.save/load: the reloaded model must produce identical
    predictions (SURVEY §2.11 'Model persist/load' smoke)."""
    from pyspark.ml import Pipeline, PipelineModel
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import StandardScaler
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from classification_problem_with_pyspark_spark.sources.catalog import load

    e = load(spark, SF_DIR, "embeddings")
    data = e.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("raw"),
        (F.col("label") % 2).cast("double").alias("label"),
    )
    pipe = Pipeline(
        stages=[
            StandardScaler(inputCol="raw", outputCol="features"),
            LogisticRegression(maxIter=10),
        ]
    )
    model = pipe.fit(data)
    path = str(tmp_path / "pipeline_model")
    model.write().overwrite().save(path)
    reloaded = PipelineModel.load(path)

    orig = {r.vec_id: r.prediction for r in model.transform(data).select("vec_id", "prediction").collect()}
    back = {r.vec_id: r.prediction for r in reloaded.transform(data).select("vec_id", "prediction").collect()}
    assert orig == back and len(orig) > 0
