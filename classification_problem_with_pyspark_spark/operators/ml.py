"""The MLlib surface (SURVEY.md §2.11): the reference's core.

The reference is a PySpark-MLlib classification workflow (SURVEY.md §0:
"PySpark classification problem is native Spark MLlib use case"); its
canonical flow is load → EDA → feature engineering (StringIndexer /
OneHotEncoder / VectorAssembler / StandardScaler) → randomSplit → fit
classifiers → evaluate → tune. Every step is re-expressed here as a
registered query over the testdata fixtures, together with the rest of
the `pyspark.ml` families a notebook reaches for beyond plain
classification: clustering variants, topic modelling, recommendation,
text features, regression (linear, GLM, isotonic), discretization,
`pyspark.ml.stat` tests and frequent-pattern mining (FPGrowth,
PrefixSpan). The exact metrics and statistics around these fits live in
``ml_metrics.py`` and ``ml_stats.py``.

Provenance note (SURVEY.md §0): /root/reference was EMPTY when these keys
were written; no file:line citations into it are possible. Everything
here is the public `pyspark.ml` API over the driver's testdata fixtures.

Trained-model outputs can never hash-match a SQL oracle (SURVEY.md §7.4),
so the keys here are rows-only EXCEPT `ml_feature_bucketizer` (explicit
splits are a pure CASE expression) and `ml_fpgrowth_2itemsets` (itemsets
of size ≤ 2 are a groupBy and a self-join); determinism (fixed seeds,
stable schemas, metric ranges) is asserted in tests/test_ml.py.

Fixtures: ``embeddings`` (64-d float vector + 10-class label; binary
variant via label % 2), ``documents`` (categorical lang/source columns
for the indexer/encoder path, text for the text pipelines), ``events``,
``lineitem``, ``orders``, ``customer`` and ``part`` for the tabular fits.

Scale posture: MLlib estimators run iterative jobs over a cached
DataFrame (SURVEY.md §3 EP3); feature transforms are narrow (no shuffle);
``array_to_vector`` keeps the array→Vector conversion JVM-side; outputs
are small aggregates (per-topic, per-cluster, per-bucket), never per-row
model dumps.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.ml import Estimator, Pipeline
from pyspark.ml.classification import (
    DecisionTreeClassifier,
    GBTClassifier,
    LinearSVC,
    LogisticRegression,
    NaiveBayes,
    RandomForestClassifier,
)
from pyspark.ml.clustering import LDA, BisectingKMeans, GaussianMixture
from pyspark.ml.evaluation import (
    BinaryClassificationEvaluator,
    MulticlassClassificationEvaluator,
    RegressionEvaluator,
)
from pyspark.ml.feature import (
    IDF,
    PCA,
    Bucketizer,
    CountVectorizer,
    OneHotEncoder,
    QuantileDiscretizer,
    RegexTokenizer,
    StandardScaler,
    StringIndexer,
    VectorAssembler,
    Word2Vec,
)
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.ml.recommendation import ALS
from pyspark.ml.regression import GeneralizedLinearRegression, LinearRegression
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_rank
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import (
    bounded_collect,
    load,
    local_rows,
)

SEED = 42


def _embedding_features(spark: SparkSession, sf_dir: str, *extra: Column) -> DataFrame:
    """embeddings → (vec_id, features: Vector, label, label_bin, *extra)."""
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
        F.col("label").cast("double").alias("label"),
        (F.col("label") % 2).cast("double").alias("label_bin"),
        *extra,
    )


def split_train_test(df: DataFrame, seed: int = SEED) -> tuple[DataFrame, DataFrame]:
    """The reference's canonical 80/20 randomSplit."""
    train, test = df.randomSplit([0.8, 0.2], seed=seed)
    return train, test


def _accuracy_table(
    spark: SparkSession,
    models: Sequence[tuple[str, Estimator]],
    train: DataFrame,
    test: DataFrame,
    label_col: str,
) -> DataFrame:
    """(model, accuracy): each ``(name, estimator)`` of `models` fit on
    `train`, in order, with its test accuracy on `label_col` rounded to
    6 d.p., as a local relation."""
    ev = MulticlassClassificationEvaluator(
        labelCol=label_col, predictionCol="prediction", metricName="accuracy"
    )
    rows = [
        (name, float(round(ev.evaluate(clf.fit(train).transform(test)), 6)))
        for name, clf in models
    ]
    return local_rows(spark, rows, "model string, accuracy double")


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
    models = (
        ("decision_tree", DecisionTreeClassifier(labelCol="label_bin", seed=SEED, maxDepth=5)),
        (
            "random_forest",
            RandomForestClassifier(labelCol="label_bin", seed=SEED, numTrees=20, maxDepth=5),
        ),
        ("gbt", GBTClassifier(labelCol="label_bin", seed=SEED, maxIter=10, maxDepth=3)),
    )
    return _accuracy_table(spark, models, train, test, "label_bin")


@register("ml_train_others", oracle=None)
def ml_train_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NaiveBayes + LinearSVC (common in classification notebooks).

    NaiveBayes requires non-negative features — a scaler fit on train can
    still emit negatives on out-of-range test rows, so NB gets |embedding|
    (non-negative by construction on ANY input, the property a 100-TB
    pipeline needs). LinearSVC runs on the raw embedding vector. Both
    feature columns come from one scan of the embeddings.
    """
    nn_features = array_to_vector(
        F.transform(F.col("embedding").cast("array<double>"), F.abs)
    ).alias("nn_features")
    train, test = split_train_test(_embedding_features(spark, sf_dir, nn_features))
    models = (
        (
            "naive_bayes",
            NaiveBayes(featuresCol="nn_features", labelCol="label_bin", modelType="multinomial"),
        ),
        (
            "linear_svc",
            LinearSVC(featuresCol="features", labelCol="label_bin", maxIter=20, regParam=0.01),
        ),
    )
    return _accuracy_table(spark, models, train, test, "label_bin")


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
    table = _accuracy_table(spark, models, train, test, "label")
    train.unpersist()
    return table


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
    from pyspark.ml.feature import MinMaxScaler, UnivariateFeatureSelector

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
    train, test = split_train_test(base)
    fm = FMClassifier(
        featuresCol="features", labelCol="label_bin", maxIter=5, seed=SEED
    )
    model = fm.fit(train)
    pred = model.transform(test)
    return pred.groupBy("label_bin", F.col("prediction").cast("int").alias("pred")).agg(
        F.count("*").alias("n_rows")
    )


@register("ml_cluster_variants", oracle=None)
def ml_cluster_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BisectingKMeans and GaussianMixture over the 64-d embeddings:
    per-(algorithm, cluster) sizes from seeded fits (k=5 each).

    Rows-only: cluster assignments depend on float iteration. Output is
    the 10-row (algo, cluster, n) table — stable shape, seeded content.
    GMM runs on a PCA-8 projection: estimating full 64x64 covariances
    from a few hundred rows is numerically degenerate (breeze raises
    MatrixNotSymmetric), and at scale per-component covariance cost is
    O(d^2) — reduce dimensionality first.
    """
    df = _embedding_features(spark, sf_dir).drop("label_bin").cache()
    # maxIter trims (driver-gate wall-time budget, VERDICT r2 item 7):
    # bisecting k-means splits 5 clusters in far fewer than 10 refinement
    # rounds on a few hundred rows, and EM converges well inside 15 — the
    # defaults spend seconds of pure per-iteration job overhead at the
    # gate SF for identical assignments.
    bkm = BisectingKMeans(k=5, seed=SEED, featuresCol="features", maxIter=10).fit(df)
    pca8 = PCA(k=8, inputCol="features", outputCol="pca8").fit(df).transform(df)
    gmm = GaussianMixture(k=5, seed=SEED, featuresCol="pca8", maxIter=15).fit(pca8)
    a = (
        bkm.transform(df)
        .groupBy(F.lit("bisecting_kmeans").alias("algo"), F.col("prediction").alias("cluster"))
        .agg(F.count("*").alias("n"))
    )
    b = (
        gmm.transform(pca8)
        .groupBy(F.lit("gaussian_mixture").alias("algo"), F.col("prediction").alias("cluster"))
        .agg(F.count("*").alias("n"))
    )
    return a.unionByName(b)


@register("ml_topics_lda", oracle=None)
def ml_topics_lda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LDA topic model over documents: CountVectorizer vocabulary → 5
    topics → top-5 terms per topic resolved back to token strings.

    Rows-only (variational inference is float-iterative); the output is
    exactly 5 topics × 5 ranked terms. At scale LDA's online optimizer
    streams mini-batches — corpus size bounds memory via vocabSize.
    """
    d = load(spark, sf_dir, "documents")
    tok = RegexTokenizer(inputCol="text", outputCol="tokens", pattern="\\s+")
    cv = CountVectorizer(inputCol="tokens", outputCol="tf", vocabSize=200, minDF=2)
    toks = tok.transform(d)
    cv_model = cv.fit(toks)
    corpus = cv_model.transform(toks).select("doc_id", F.col("tf").alias("features"))
    lda = LDA(k=5, seed=SEED, maxIter=10, optimizer="online")
    model = lda.fit(corpus)
    vocab = cv_model.vocabulary
    topics = model.describeTopics(5).select(
        "topic", F.posexplode("termIndices").alias("rank", "term_idx")
    )
    vocab_df = local_rows(spark, enumerate(vocab), "term_idx int, term string")
    return topics.join(F.broadcast(vocab_df), "term_idx").select(
        "topic", "rank", "term"
    )


@register("ml_recommend_als", oracle=None)
def ml_recommend_als(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS implicit-feedback recommender on the events stream: per-user
    event-type interaction counts as ratings, top-2 recommendations per
    user, reported as per-(event_type, rank) recommendation counts.

    Rows-only (factorization is float-iterative). The item vocabulary is
    the 5 event types, indexed by a deterministic sorted mapping (not
    StringIndexer's frequency order, which can tie-break unstably).
    recommendForAllUsers is a broadcast of the tiny item factor matrix.
    """
    e = load(spark, sf_dir, "events")
    items = grid_rank(
        e.select("event_type").distinct().orderBy("event_type"),
        ["event_type"],
        "item_id",
    ).withColumn("item_id", F.col("item_id") - 1)
    ratings = (
        e.join(F.broadcast(items), "event_type")
        .groupBy(F.col("user_id").cast("int").alias("user"), F.col("item_id").alias("item"))
        .agg(F.count("*").cast("float").alias("rating"))
    )
    als = ALS(
        rank=4,
        maxIter=5,
        seed=SEED,
        implicitPrefs=True,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    recs = (
        model.recommendForAllUsers(2)
        .select("user", F.posexplode("recommendations").alias("rank", "rec"))
        .select("user", "rank", F.col("rec.item").alias("item"))
    )
    return (
        recs.join(F.broadcast(items), recs.item == items.item_id)
        .groupBy("event_type", "rank")
        .agg(F.count("*").alias("n_users"))
    )


@register("ml_text_features", oracle=None)
def ml_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text feature pipeline: RegexTokenizer → CountVectorizer → IDF →
    Word2Vec, reported as per-lang averaged feature norms.

    Rows-only (IDF weights and Word2Vec vectors are float-trained). The
    whole pipeline is the notebook-canonical text featurization; output
    is 5 rows (one per lang) with doc counts and mean TF-IDF/W2V norms.
    """
    d = load(spark, sf_dir, "documents")
    pipe = Pipeline(
        stages=[
            RegexTokenizer(inputCol="text", outputCol="tokens", pattern="\\s+"),
            CountVectorizer(inputCol="tokens", outputCol="tf", vocabSize=200, minDF=2),
            IDF(inputCol="tf", outputCol="tfidf"),
            Word2Vec(
                inputCol="tokens", outputCol="w2v", vectorSize=16, seed=SEED, minCount=2
            ),
        ]
    )
    out = pipe.fit(d).transform(d)
    tfidf_norm = F.sqrt(
        F.aggregate(
            vector_to_array("tfidf"), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    w2v_norm = F.sqrt(
        F.aggregate(vector_to_array("w2v"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return out.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(tfidf_norm), 4).alias("avg_tfidf_norm"),
        F.round(F.avg(w2v_norm), 4).alias("avg_w2v_norm"),
    )


@register("ml_train_regression", oracle=None)
def ml_train_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tabular regression on lineitem: predict l_extendedprice from
    (quantity, discount, tax) with LinearRegression and a Gaussian GLM;
    report per-model RMSE/R² on a seeded 80/20 split.

    Rows-only (fitted coefficients are float-iterative). This is the
    notebook's regression twin of the classification flow: assemble →
    split → fit → evaluate. Output: 2 rows (model, rmse, r2, n_test).
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_discount", "l_tax", F.col("l_extendedprice").alias("y")
    )
    assembled = VectorAssembler(
        inputCols=["l_quantity", "l_discount", "l_tax"], outputCol="features"
    ).transform(li)
    train, test = split_train_test(assembled)
    train = train.cache()
    rows = []
    models = {
        "linear_regression": LinearRegression(featuresCol="features", labelCol="y"),
        "glm_gaussian": GeneralizedLinearRegression(
            family="gaussian", link="identity", featuresCol="features", labelCol="y"
        ),
    }
    rmse_eval = RegressionEvaluator(labelCol="y", metricName="rmse")
    r2_eval = RegressionEvaluator(labelCol="y", metricName="r2")
    n_test = test.count()
    for name, est in models.items():
        pred = est.fit(train).transform(test)
        rows.append(
            (name, round(rmse_eval.evaluate(pred), 4), round(r2_eval.evaluate(pred), 4), n_test)
        )
    return local_rows(spark, rows, "model string, rmse double, r2 double, n_test long")


@register(
    "ml_feature_bucketizer",
    oracle="""
    SELECT CASE WHEN c_acctbal < 0 THEN 0
                WHEN c_acctbal < 2500 THEN 1
                WHEN c_acctbal < 5000 THEN 2
                WHEN c_acctbal < 7500 THEN 3
                ELSE 4 END AS bucket,
           COUNT(*) AS n_customers,
           CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
           CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal
    FROM customer
    GROUP BY 1
    """,
)
def ml_feature_bucketizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib Bucketizer with explicit splits on customer balance,
    flattened to per-bucket counts and bounds.

    Explicit-splits bucketing is a pure CASE expression, so unlike the
    rest of the ml_* family this IS oracle-checked: Bucketizer's
    [lo, hi) intervals map 1:1 to the CASE WHEN chain. The transform is
    narrow (no shuffle until the 5-row aggregate).
    """
    c = load(spark, sf_dir, "customer")
    buck = Bucketizer(
        splits=[float("-inf"), 0.0, 2500.0, 5000.0, 7500.0, float("inf")],
        inputCol="c_acctbal",
        outputCol="bucket_d",
    )
    return (
        buck.transform(c)
        .groupBy(F.col("bucket_d").cast("int").alias("bucket"))
        .agg(
            F.count("*").alias("n_customers"),
            F.min("c_acctbal").cast("double").alias("min_bal"),
            F.max("c_acctbal").cast("double").alias("max_bal"),
        )
    )


@register("ml_feature_discretize", oracle=None)
def ml_feature_discretize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QuantileDiscretizer (4 buckets, approx quantile boundaries) on
    order totals: per-bucket counts and value ranges.

    Rows-only: boundaries come from approxQuantile (relativeError-bound
    sketch), which is the 100-TB-correct choice — an exact global sort
    for quartile edges would be a full shuffle; the sketch is one pass
    and mergeable. Bucket populations are approximately equal by design.
    """
    o = load(spark, sf_dir, "orders")
    qd = QuantileDiscretizer(
        numBuckets=4, inputCol="o_totalprice", outputCol="bucket_d", relativeError=0.001
    )
    return (
        qd.fit(o)
        .transform(o)
        .groupBy(F.col("bucket_d").cast("int").alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").cast("double").alias("min_price"),
            F.max("o_totalprice").cast("double").alias("max_price"),
        )
    )


# ---------------------------------------------------------------------------
# pyspark.ml.stat: hypothesis tests + correlation matrix (notebook EDA)
# ---------------------------------------------------------------------------


@register("ml_stat_chi2", oracle=None)
def ml_stat_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence tests (pyspark.ml.stat.ChiSquareTest)
    between the 10-class label and three binarized embedding dimensions
    (sign buckets) — the feature-screening step of the canonical
    classification-notebook EDA.

    Rows-only: MLlib's contingency aggregation and p-value evaluation are
    not SQL-expressible; our test suite pins statistic values against a
    hand-built contingency table. Scale: the test reduces to one
    (feature, label) contingency count per dimension — map-side partial,
    bounded keys (2 buckets × 10 classes).
    """
    from pyspark.ml.stat import ChiSquareTest

    e = load(spark, sf_dir, "embeddings")
    arr = vector_to_array(array_to_vector("embedding"))
    feats = e.select(
        "label",
        *[(arr[i] > 0).cast("double").alias(f"f{i}") for i in range(3)],
    )
    assembled = VectorAssembler(
        inputCols=["f0", "f1", "f2"], outputCol="features"
    ).transform(feats)
    res = ChiSquareTest.test(assembled, "features", "label")
    row = res.select(
        vector_to_array("pValues").alias("p"),
        "degreesOfFreedom",
        vector_to_array("statistics").alias("s"),
    )
    exploded = row.select(
        F.posexplode("p").alias("feature_idx", "p_value"),
        "degreesOfFreedom",
        "s",
    )
    return exploded.select(
        "feature_idx",
        F.round(F.col("s")[F.col("feature_idx")], 6).alias("chi2_statistic"),
        F.round("p_value", 6).alias("p_value"),
        F.col("degreesOfFreedom")[F.col("feature_idx")].alias("dof"),
    )


@register("ml_stat_correlation", oracle=None)
def ml_stat_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix (pyspark.ml.stat.Correlation) over the
    first four embedding dimensions, flattened to (i, j, corr) rows for
    the upper triangle.

    Rows-only: MLlib accumulates float moments in partition order, so the
    last ulp is not cross-engine stable; tests/test_ml.py asserts each
    entry equals the exact-decimal-moment formula (`agg_corr_covar`'s
    derivation) within 1e-9. Scale: one pass, d² accumulator entries —
    the classic distributed Gram-matrix pattern (O(d²) state, fine at
    d=4, the reason `ml_cluster_variants` PCA-projects before GMM at
    d=64).
    """
    from pyspark.ml.stat import Correlation

    e = load(spark, sf_dir, "embeddings")
    arr = vector_to_array(array_to_vector("embedding"))
    feats = e.select(*[arr[i].alias(f"d{i}") for i in range(4)])
    assembled = VectorAssembler(
        inputCols=[f"d{i}" for i in range(4)], outputCol="features"
    ).transform(feats)
    m = Correlation.corr(assembled, "features", "pearson")
    # MatrixUDT exposes no SQL field access; a row UDF on the single
    # 1-row result (not a hot path) flattens it row-major.
    from pyspark.sql.types import ArrayType, DoubleType

    flatten = F.udf(
        lambda mat: [float(v) for v in mat.toArray().reshape(-1)],
        ArrayType(DoubleType()),
    )
    flat = m.select(flatten(F.col("pearson(features)")).alias("v"))
    entries = flat.select(F.posexplode("v").alias("pos", "corr"))
    return (
        entries.select(
            (F.col("pos") / 4).cast("int").alias("i"),
            (F.col("pos") % 4).alias("j"),
            F.round("corr", 6).alias("pearson_corr"),
        )
        .where(F.col("i") < F.col("j"))
    )


# ---------------------------------------------------------------------------
# Tuning: TrainValidationSplit (the single-split twin of CrossValidator)
# ---------------------------------------------------------------------------


@register("ml_tune_tvs", oracle=None)
def ml_tune_tvs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrainValidationSplit over a small LogisticRegression regParam grid
    on the binary label — the cheap single-split tuner (one fit per
    candidate vs CrossValidator's k; the right default at 100 TB where
    each fit is expensive and data is plentiful).

    Rows-only: seeded, deterministic; outputs the grid with validation
    metrics and the chosen regParam.
    """
    from pyspark.ml.tuning import TrainValidationSplit

    e = load(spark, sf_dir, "embeddings")
    data = e.select(
        array_to_vector("embedding").alias("features"),
        (F.col("label") % 2).cast("double").alias("label"),
    )
    lr = LogisticRegression(maxIter=20)
    grid = (
        ParamGridBuilder().addGrid(lr.regParam, [0.0, 0.01, 0.1]).build()
    )
    tvs = TrainValidationSplit(
        estimator=lr,
        estimatorParamMaps=grid,
        evaluator=BinaryClassificationEvaluator(metricName="areaUnderROC"),
        trainRatio=0.75,
        seed=SEED,
    )
    model = tvs.fit(data)
    rows = [
        (float(g[lr.regParam]), float(m))
        for g, m in zip(grid, model.validationMetrics)
    ]
    best = float(model.bestModel.getRegParam())
    return local_rows(
        spark,
        [(rp, round(auc, 4), rp == best) for rp, auc in rows],
        "reg_param double, val_auc double, is_best boolean",
    )


# ---------------------------------------------------------------------------
# Feature engineering: RFormula (the notebook one-liner transform)
# ---------------------------------------------------------------------------


@register("ml_feature_rformula", oracle=None)
def ml_feature_rformula(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFormula — the R-style one-line feature spec
    (`label ~ qty + discount + returnflag`) that notebooks use to fuse
    StringIndexer + OneHotEncoder + VectorAssembler: categorical terms are
    indexed+encoded, numerics passed through, label materialized.

    Rows-only (VectorUDT output is not SQL-comparable); the output
    profiles the assembled vector per returnflag: feature-vector size and
    exact integer counts prove the encoding layout.
    """
    from pyspark.ml.feature import RFormula

    li = load(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_discount", "l_returnflag", "l_extendedprice"
    )
    rf = RFormula(
        formula="l_extendedprice ~ l_quantity + l_discount + l_returnflag",
        featuresCol="features",
        labelCol="target",
    )
    out = rf.fit(li).transform(li)
    return (
        out.select("l_returnflag", vector_to_array("features").alias("fv"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.first(F.size("fv")).alias("n_features"),
            F.round(F.sum(F.element_at("fv", 1)).cast("double"), 2).alias("sum_qty_term"),
        )
    )


@register(
    "ml_fpgrowth_2itemsets",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT o.o_orderkey, p.p_brand
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
    ), n AS (
        SELECT COUNT(DISTINCT o_orderkey) AS n_baskets FROM baskets
    ), ones AS (
        SELECT p_brand AS itemset, COUNT(*) AS freq
        FROM baskets CROSS JOIN n
        GROUP BY p_brand, n_baskets
        HAVING COUNT(*) >= CEIL(0.05 * n_baskets)
    ), twos AS (
        SELECT a.p_brand || ',' || b.p_brand AS itemset, COUNT(*) AS freq
        FROM baskets a
        JOIN baskets b ON a.o_orderkey = b.o_orderkey AND a.p_brand < b.p_brand
        CROSS JOIN n
        GROUP BY 1, n_baskets
        HAVING COUNT(*) >= CEIL(0.05 * n_baskets)
    )
    SELECT itemset, freq FROM ones
    UNION ALL
    SELECT itemset, freq FROM twos
    """,
)
def ml_fpgrowth_2itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-itemset mining (market-basket analysis): FPGrowth over
    per-order brand baskets at 5% support, restricted to itemsets of size
    ≤ 2 so the oracle can re-derive them EXACTLY — 1-itemsets are a
    groupBy, 2-itemsets a basket self-join; FPGrowth's minCount is
    ceil(minSupport·n) on both sides. Itemsets are emitted as a sorted
    comma-joined key for a stable, engine-neutral schema. (Higher-order
    itemsets exist in the model — the SQL-expressible slice is what gets
    hash-checked; the FP-tree is how the full lattice stays tractable.)

    Scale: FPGrowth is the parallel FP-tree algorithm — one pass for item
    counts, one group-dependent-transactions shuffle, per-partition
    conditional trees; never the a-priori candidate explosion. The basket
    build is the only fact-sized work (distinct (order, brand) shuffle
    with part broadcast).
    """
    from pyspark.ml.fpm import FPGrowth

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("o_orderkey")
        .agg(F.array_distinct(F.collect_list("p_brand")).alias("items"))
    )
    fp = FPGrowth(itemsCol="items", minSupport=0.05, minConfidence=0.25)
    model = fp.fit(baskets)
    return (
        model.freqItemsets.where(F.size("items") <= 2)
        .select(
            F.array_join(F.array_sort("items"), ",").alias("itemset"),
            F.col("freq"),
        )
    )


@register("ml_isotonic_regression")
def ml_isotonic_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression via pyspark.ml (SURVEY.md §2.10) — the last
    uncovered MLlib regression surface: fit a monotone (pool-adjacent-
    violators) price curve of avg(l_extendedprice) as a function of
    l_quantity, then emit the fitted value at each of the 50 observed
    quantity levels.

    PAV is deterministic given its input sequence, and the input here
    is an exact per-quantity aggregate (sum folded in integer cents /
    count), so the FIT is reproducible — but the model boundaries are
    driver-side floats from MLlib internals, so the key stays rows-only
    (SURVEY §7.4 discipline: trained models never join the hash-checked
    set). tests/test_extended8.py gates the semantics instead:
    predictions must be globally non-decreasing in quantity (the
    isotonic contract) and bounded by the observed label range.

    Scale: the fit input is the 50-row bounded aggregate, not the fact
    table — PAV on the driver is O(50); the expensive part (the
    aggregate) is one map-side-combinable groupBy.
    """
    from pyspark.ml.regression import IsotonicRegression

    li = load(spark, sf_dir, "lineitem")
    per_qty = (
        li.groupBy(F.col("l_quantity").cast("double").alias("qty"))
        .agg(
            (
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                / (100 * F.count("*"))
            ).alias("avg_price")
        )
        .select("qty", "avg_price")
    )
    assembled = VectorAssembler(inputCols=["qty"], outputCol="features").transform(
        per_qty
    )
    model = IsotonicRegression(
        featuresCol="features", labelCol="avg_price", predictionCol="fit_price"
    ).fit(assembled)
    return (
        model.transform(assembled)
        .select(
            F.col("qty").cast("long").alias("quantity"),
            F.round("avg_price", 2).alias("avg_price"),
            F.round("fit_price", 2).alias("fit_price"),
        )
        .orderBy("quantity")
    )


@register("ml_prefixspan_sequences", oracle=None)
def ml_prefixspan_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib PrefixSpan sequential-pattern mining (SURVEY.md §2.11):
    each user's time-ordered event types form a sequence of singleton
    itemsets; PrefixSpan emits every subsequence pattern above 30%
    support up to length 3 — the sequence-mining companion to
    `ml_fpgrowth_2itemsets` (which ignores order). Rows-only: MLlib
    emits patterns in partition order. The EXACT pin: every length-2
    pattern's freq must equal `events_frequent_2seq`'s user count for
    that ordered pair — asserted pattern-by-pattern in
    tests/test_extended28.py (the subsequence definitions coincide).

    Scale: PrefixSpan's projected-database recursion distributes over
    the sequence partitioning; sequences here are per-user event lists
    (bounded by user activity), built by one sort-within-group
    aggregation.
    """
    from pyspark.ml.fpm import PrefixSpan

    e = load(spark, sf_dir, "events")
    seqs = (
        e.select(
            "user_id",
            F.struct(
                F.unix_micros("ts").alias("tu"),
                F.col("event_id").alias("eid"),
                F.col("event_type").alias("et"),
            ).alias("rec"),
        )
        .groupBy("user_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(rec)), r -> array(r.et))"
            ).alias("sequence")
        )
    )
    ps = PrefixSpan(
        minSupport=0.3, maxPatternLength=3, sequenceCol="sequence"
    )
    # '>'-joined string, not array<string>: the grading harness
    # canonicalizes through pandas, which cannot hash list cells, so a
    # top-level array column would be un-gradable even rows-only
    # (the scalar_array_setops_suite lesson). Itemsets join with '+',
    # sequence steps with '>' — lossless for singleton itemsets.
    return ps.findFrequentSequentialPatterns(seqs).select(
        F.expr(
            "array_join(transform(sequence, s -> array_join(s, '+')), '>')"
        ).alias("pattern"),
        F.col("freq").cast("long").alias("freq"),
    )
