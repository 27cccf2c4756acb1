"""MLlib classification surface (SURVEY.md §2.11) — the reference's core.

The reference is a PySpark-MLlib classification workflow (SURVEY.md §0:
"PySpark classification problem is native Spark MLlib use case"); its
canonical flow is load → EDA → feature engineering (StringIndexer /
OneHotEncoder / VectorAssembler / StandardScaler) → randomSplit → fit
classifiers → evaluate → tune. Every step is re-expressed here as a
registered query over the testdata fixtures.

Trained-model outputs can never hash-match a SQL oracle (SURVEY.md §7.4),
so all ml_* keys are rows-only in the driver; determinism (fixed seeds,
stable schemas, metric ranges) is asserted in tests/test_ml.py.

Fixtures: ``embeddings`` (64-d float vector + 10-class label; binary
variant via label % 2), ``documents`` (categorical lang/source columns
for the indexer/encoder path).

Scale posture: MLlib estimators run iterative jobs over a cached
DataFrame (SURVEY.md §3 EP3); feature transforms are narrow (no shuffle);
``array_to_vector`` keeps the array→Vector conversion JVM-side — no
Python boundary anywhere in the pipeline.
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.classification import (
    DecisionTreeClassifier,
    GBTClassifier,
    LinearSVC,
    LogisticRegression,
    NaiveBayes,
    RandomForestClassifier,
)
from pyspark.ml.evaluation import (
    BinaryClassificationEvaluator,
    MulticlassClassificationEvaluator,
)
from pyspark.ml.feature import (
    OneHotEncoder,
    StandardScaler,
    StringIndexer,
    VectorAssembler,
)
from pyspark.ml.functions import array_to_vector
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import (
    bounded_collect,
    load,
    local_rows,
)

SEED = 42


def _embedding_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings → (vec_id, features: Vector, label, label_bin)."""
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
        F.col("label").cast("double").alias("label"),
        (F.col("label") % 2).cast("double").alias("label_bin"),
    )


def split_train_test(df: DataFrame, seed: int = SEED) -> tuple[DataFrame, DataFrame]:
    """The reference's canonical 80/20 randomSplit."""
    train, test = df.randomSplit([0.8, 0.2], seed=seed)
    return train, test


@register("ml_feature_pipeline", oracle=None)
def ml_feature_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's feature-engineering pipeline on documents:
    StringIndexer(lang, source) → OneHotEncoder → VectorAssembler(with
    n_chars) → StandardScaler, composed as a pyspark.ml.Pipeline.

    Output: stable scalar projection of the transform (doc_id, indexed
    categories, feature dimensionality) — rows-only check.
    """
    d = load(spark, sf_dir, "documents")
    stages = [
        StringIndexer(inputCol="lang", outputCol="lang_idx", stringOrderType="alphabetAsc"),
        StringIndexer(inputCol="source", outputCol="source_idx", stringOrderType="alphabetAsc"),
        OneHotEncoder(inputCols=["lang_idx", "source_idx"], outputCols=["lang_oh", "source_oh"]),
        VectorAssembler(inputCols=["lang_oh", "source_oh", "n_chars"], outputCol="raw_features"),
        StandardScaler(inputCol="raw_features", outputCol="features", withMean=False),
    ]
    model = Pipeline(stages=stages).fit(d)
    out = model.transform(d)
    # Vector columns aren't oracle-comparable; project stable scalars.
    from pyspark.ml.functions import vector_to_array

    return out.select(
        "doc_id",
        F.col("lang_idx").cast("long").alias("lang_idx"),
        F.col("source_idx").cast("long").alias("source_idx"),
        F.size(vector_to_array("features")).alias("feature_dim"),
    )


@register("ml_train_logreg", oracle=None)
def ml_train_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LogisticRegression (binary, label%2) on the embedding features —
    the reference's flagship estimator. Returns the test-set confusion
    matrix (label, prediction, cnt): deterministic under fixed seed."""
    feats = _embedding_features(spark, sf_dir)
    train, test = split_train_test(feats)
    lr = LogisticRegression(featuresCol="features", labelCol="label_bin", maxIter=20, regParam=0.01)
    model = lr.fit(train)
    return (
        model.transform(test)
        .groupBy(
            F.col("label_bin").cast("long").alias("label"),
            F.col("prediction").cast("long").alias("prediction"),
        )
        .agg(F.count("*").alias("cnt"))
    )


@register("ml_train_trees", oracle=None)
def ml_train_trees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tree ensembles (DecisionTree / RandomForest / GBT) on the binary
    task; one row per model with test accuracy — rows-only."""
    feats = _embedding_features(spark, sf_dir)
    train, test = split_train_test(feats)
    ev = MulticlassClassificationEvaluator(
        labelCol="label_bin", predictionCol="prediction", metricName="accuracy"
    )
    rows = []
    for name, clf in (
        ("decision_tree", DecisionTreeClassifier(labelCol="label_bin", seed=SEED, maxDepth=5)),
        (
            "random_forest",
            RandomForestClassifier(labelCol="label_bin", seed=SEED, numTrees=20, maxDepth=5),
        ),
        ("gbt", GBTClassifier(labelCol="label_bin", seed=SEED, maxIter=10, maxDepth=3)),
    ):
        acc = ev.evaluate(clf.fit(train).transform(test))
        rows.append((name, float(round(acc, 6))))
    return local_rows(spark, rows, "model string, accuracy double")


@register("ml_train_others", oracle=None)
def ml_train_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NaiveBayes + LinearSVC (common in classification notebooks).

    NaiveBayes requires non-negative features — a scaler fit on train can
    still emit negatives on out-of-range test rows, so NB gets |embedding|
    (non-negative by construction on ANY input, the property a 100-TB
    pipeline needs). LinearSVC runs on the raw embedding vector.
    """
    e = load(spark, sf_dir, "embeddings")
    feats = _embedding_features(spark, sf_dir).join(
        e.select(
            "vec_id",
            array_to_vector(
                F.transform(F.col("embedding").cast("array<double>"), F.abs)
            ).alias("nn_features"),
        ),
        "vec_id",
    )
    train, test = split_train_test(feats)
    ev = MulticlassClassificationEvaluator(
        labelCol="label_bin", predictionCol="prediction", metricName="accuracy"
    )
    nb = NaiveBayes(featuresCol="nn_features", labelCol="label_bin", modelType="multinomial")
    svc = LinearSVC(featuresCol="features", labelCol="label_bin", maxIter=20, regParam=0.01)
    rows = [
        ("naive_bayes", float(round(ev.evaluate(nb.fit(train).transform(test)), 6))),
        ("linear_svc", float(round(ev.evaluate(svc.fit(train).transform(test)), 6))),
    ]
    return local_rows(spark, rows, "model string, accuracy double")


def multiclass_metrics(pred: DataFrame, label_col: str) -> dict[str, float]:
    """accuracy, f1 and weightedPrecision of `pred` (`label_col` against
    ``prediction``) from one confusion aggregate, by the rules of MLlib's
    MulticlassMetrics with unit weights: precision is 0 for a label that
    nothing is predicted as, F1 is 0 where precision + recall is 0, and
    the per-label terms are weighted by the true-label counts, so a class
    that is predicted but never labelled weighs nothing. The aggregate
    holds at most classes² cells, whatever the size of `pred`, and is one
    job where ``MulticlassClassificationEvaluator`` runs one per metric."""
    cells = bounded_collect(
        pred.groupBy(label_col, "prediction").count(),
        max_rows=10_000,
        what="confusion matrix (classes²)",
    )
    n = float(sum(r["count"] for r in cells))
    by_label: dict[float, float] = {}
    by_pred: dict[float, float] = {}
    tp: dict[float, float] = {}
    for r in cells:
        label, p, c = r[label_col], r["prediction"], float(r["count"])
        by_label[label] = by_label.get(label, 0.0) + c
        by_pred[p] = by_pred.get(p, 0.0) + c
        if label == p:
            tp[label] = c
    precision = f1 = 0.0
    for label, count in by_label.items():
        t = tp.get(label, 0.0)
        p = t / by_pred[label] if label in by_pred else 0.0
        r = t / count
        precision += p * count / n
        f1 += (0.0 if p + r == 0 else 2.0 * p * r / (p + r)) * count / n
    return {"accuracy": sum(tp.values()) / n, "f1": f1, "weightedPrecision": precision}


@register("ml_evaluate", oracle=None)
def ml_evaluate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both evaluator families on one fitted model: Binary (areaUnderROC /
    areaUnderPR, one ``BinaryClassificationEvaluator`` job each) and
    Multiclass (accuracy / f1 / weightedPrecision, all three from one
    confusion aggregate, `multiclass_metrics`). The five rounded values
    come back as a local relation, so reading them runs no job.

    The binary metrics keep MLlib's evaluator: a one-pass AUC would need a
    test-set-sized collect or a single-task window over a score grid that
    no value domain bounds."""
    feats = _embedding_features(spark, sf_dir)
    train, test = split_train_test(feats)
    lr = LogisticRegression(featuresCol="features", labelCol="label_bin", maxIter=20, regParam=0.01)
    pred = lr.fit(train).transform(test)
    rows = []
    for metric in ("areaUnderROC", "areaUnderPR"):
        v = BinaryClassificationEvaluator(labelCol="label_bin", metricName=metric).evaluate(pred)
        rows.append((f"binary:{metric}", float(round(v, 6))))
    for metric, v in multiclass_metrics(pred, "label_bin").items():
        rows.append((f"multiclass:{metric}", float(round(v, 6))))
    return local_rows(spark, rows, "metric string, value double")


@register("ml_tune_cv", oracle=None)
def ml_tune_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CrossValidator + ParamGridBuilder (the reference's tuning step):
    2×2 grid over regParam/elasticNetParam, 3-fold, AUC objective.
    Returns the grid with mean CV metric per point and a best flag."""
    feats = _embedding_features(spark, sf_dir)
    # maxIter=10: the 3-fold × 4-point grid pays 12 sequential fits; the
    # CV ranking is stable well before 10 L-BFGS steps at this SF. The fits
    # run on one thread: parallel fits share the session's job properties
    # across threads, and one failed with "Cannot parse null string" in
    # SQLExecution under load.
    lr = LogisticRegression(featuresCol="features", labelCol="label_bin", maxIter=10)
    grid = (
        ParamGridBuilder()
        .addGrid(lr.regParam, [0.01, 0.1])
        .addGrid(lr.elasticNetParam, [0.0, 0.5])
        .build()
    )
    cv = CrossValidator(
        estimator=lr,
        estimatorParamMaps=grid,
        evaluator=BinaryClassificationEvaluator(labelCol="label_bin"),
        numFolds=3,
        seed=SEED,
    )
    model = cv.fit(feats)
    best_reg = model.bestModel.getRegParam()
    best_en = model.bestModel.getElasticNetParam()
    rows = [
        (
            float(pm[lr.regParam]),
            float(pm[lr.elasticNetParam]),
            float(round(m, 6)),
            pm[lr.regParam] == best_reg and pm[lr.elasticNetParam] == best_en,
        )
        for pm, m in zip(grid, model.avgMetrics)
    ]
    return local_rows(
        spark, rows, "reg_param double, elastic_net double, mean_auc double, is_best boolean"
    )


@register("ml_train_multiclass", oracle=None)
def ml_train_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine 10-class training (the other keys use the binary label):
    multinomial LogisticRegression, OneVsRest(LinearSVC) — the standard
    binary-to-multiclass lift — and a MultilayerPerceptron sized
    64→32→10. One row per model with test accuracy; rows-only (seeded
    iterative optimizers are never SQL-expressible).

    Scale: every estimator here trains via repeated distributed passes
    over a CACHED train set — the cache() is the one materialization the
    engine's no-collect rule permits, because L-BFGS at 100 TB re-reads
    its input dozens of times.
    """
    from pyspark.ml.classification import MultilayerPerceptronClassifier, OneVsRest

    feats = _embedding_features(spark, sf_dir)
    train, test = split_train_test(feats)
    train = train.cache()
    ev = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    )
    models = (
        (
            "logreg_multinomial",
            LogisticRegression(
                featuresCol="features", labelCol="label", maxIter=10, regParam=0.01
            ),
        ),
        (
            "one_vs_rest_svc",
            OneVsRest(
                # 10 classes × maxIter SVC fits: 3 iters/class is the cost
                # knob — OVR is here for the binary→multiclass lift shape,
                # not SVC convergence.
                classifier=LinearSVC(maxIter=3, regParam=0.01),
                featuresCol="features",
                labelCol="label",
            ),
        ),
        (
            "mlp_64_32_10",
            MultilayerPerceptronClassifier(
                featuresCol="features",
                labelCol="label",
                layers=[64, 32, 10],
                maxIter=15,
                seed=SEED,
            ),
        ),
    )
    rows = []
    for name, clf in models:
        acc = ev.evaluate(clf.fit(train).transform(test))
        rows.append((name, float(round(acc, 6))))
    train.unpersist()
    return local_rows(spark, rows, "model string, accuracy double")


@register("ml_cluster_kmeans", oracle=None)
def ml_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsupervised add-on: seeded KMeans over the embeddings (the same
    coarse quantizer llm_similarity_ivf uses, surfaced as its own key)
    with cluster sizes and within-cluster cosine cohesion. Rows-only:
    k-means±seed is iterative and engine-private.
    """
    from pyspark.ml.clustering import KMeans

    feats = _embedding_features(spark, sf_dir)
    km = KMeans(k=8, seed=SEED, featuresCol="features", predictionCol="cluster")
    assigned = km.fit(feats).transform(feats)
    return (
        assigned.groupBy("cluster")
        .agg(F.count("*").alias("member_cnt"))
        .orderBy("cluster")
    )


@register("ml_feature_extras", oracle=None)
def ml_feature_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensionality-reduction + selection + scaling stage pack
    (SURVEY.md §2.11): PCA (64d → 8d), MinMaxScaler, and
    UnivariateFeatureSelector (ANOVA F-test, top 16 features) chained in
    one Pipeline over the embeddings fixture — the feature-engineering
    steps a classification notebook reaches for beyond the basic
    indexer/assembler set.

    Rows-only: PCA bases have sign/rotation freedom, so outputs are
    checked for shape + seeded determinism in tests/test_ml.py, never
    hashed. Scale: all three transforms are narrow per-row maps after a
    single fit-time pass (PCA covariance + selector stats are
    tree-aggregated JVM-side, no Python boundary).
    """
    from pyspark.ml.feature import PCA, MinMaxScaler, UnivariateFeatureSelector

    base = _embedding_features(spark, sf_dir)
    pca = PCA(k=8, inputCol="features", outputCol="pca_features")
    scaler = MinMaxScaler(inputCol="pca_features", outputCol="scaled_features")
    selector = (
        UnivariateFeatureSelector(
            featuresCol="features",
            labelCol="label",
            outputCol="selected_features",
            selectionMode="numTopFeatures",
        )
        .setFeatureType("continuous")
        .setLabelType("categorical")
        .setSelectionThreshold(16)
    )
    model = Pipeline(stages=[pca, scaler, selector]).fit(base)
    out = model.transform(base)
    from pyspark.ml.functions import vector_to_array

    return out.select(
        "vec_id",
        "label",
        F.size(vector_to_array("pca_features")).alias("pca_dim"),
        F.size(vector_to_array("scaled_features")).alias("scaled_dim"),
        F.size(vector_to_array("selected_features")).alias("selected_dim"),
        F.round(F.element_at(vector_to_array("scaled_features"), 1), 6).alias(
            "scaled_first"
        ),
    )


@register("ml_train_fm", oracle=None)
def ml_train_fm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Factorization-machine classifier (SURVEY.md §2.11) on the binary
    label — the remaining pyspark.ml.classification family member after
    LR / trees / NB / SVC / MLP / OvR, completing the classifier
    inventory. Rows-only: iterative AdamW fit; seeded for our own
    determinism tests.
    """
    from pyspark.ml.classification import FMClassifier

    base = _embedding_features(spark, sf_dir)
    train, test = base.randomSplit([0.8, 0.2], seed=SEED)
    fm = FMClassifier(
        featuresCol="features", labelCol="label_bin", maxIter=5, seed=SEED
    )
    model = fm.fit(train)
    pred = model.transform(test)
    return pred.groupBy("label_bin", F.col("prediction").cast("int").alias("pred")).agg(
        F.count("*").alias("n_rows")
    )
