"""MLlib surface extension (SURVEY.md §2.11): clustering variants, topic
modeling, recommendation, text feature pipelines, tabular regression, and
discretization — completing the `pyspark.ml` families a notebook-genre
reference reaches for beyond plain classification.

Provenance note (SURVEY.md §0): /root/reference was EMPTY this session; no
file:line citations into it are possible. Everything here is the public
`pyspark.ml` API over the driver's testdata fixtures.

Trained-model outputs can never hash-match a SQL oracle (SURVEY.md §7.4),
so ml_* keys here are rows-only EXCEPT `ml_feature_bucketizer`, whose
explicit-splits bucketing is a pure CASE expression and therefore
oracle-checked. Determinism (fixed seeds, stable schemas) is asserted in
tests/test_ml.py.

Scale posture: estimators iterate over cached inputs (SURVEY.md §3 EP3);
all feature transforms are narrow; outputs are small aggregates (per-topic,
per-cluster, per-bucket), never per-row model dumps.
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.clustering import LDA, BisectingKMeans, GaussianMixture
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.feature import (
    IDF,
    PCA,
    Bucketizer,
    CountVectorizer,
    QuantileDiscretizer,
    RegexTokenizer,
    VectorAssembler,
    Word2Vec,
)
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.ml.recommendation import ALS
from pyspark.ml.regression import GeneralizedLinearRegression, LinearRegression
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classification_problem_with_pyspark_spark.plans.bounded_grid import grid_rank
from classification_problem_with_pyspark_spark.registry import register
from classification_problem_with_pyspark_spark.sources.catalog import load, local_rows

SEED = 42


def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
        F.col("label").cast("double").alias("label"),
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
    df = _features(spark, sf_dir).cache()
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
    train, test = assembled.randomSplit([0.8, 0.2], seed=SEED)
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
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.tuning import ParamGridBuilder, TrainValidationSplit

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
        seed=42,
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
    from pyspark.ml.functions import vector_to_array

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
