package graft.ml

import graft.{Q, QueryModule}
import graft.sources.Tables
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.{LogisticRegression, RandomForestClassifier}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, RegressionEvaluator}
import org.apache.spark.ml.feature.{MinMaxScaler, StandardScaler, StringIndexer, VectorAssembler}
import org.apache.spark.ml.linalg.Matrix
import org.apache.spark.ml.regression.GBTRegressor
import org.apache.spark.ml.stat.Correlation
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's four ML pipelines + Pearson correlation (SURVEY.md
  * §2.10, Dataset.py:563-885), transposed to the fixtures per FIXTURES.md's
  * mapping (Arrest → l_returnflag='R'; district counts → per-nation order
  * counts). Reference hyperparameters and seeds are kept verbatim.
  *
  * Reference bugs fixed, not copied (SURVEY.md §7 risk 4): pipelines are
  * always `fit(train).transform(test)` (Dataset.py:608/727/835 transform an
  * unfit pipeline), and the label encodes its own column (Dataset.py:114
  * encodes Domestic from Arrest).
  *
  * No oracle entries — ML fits aren't SQL-expressible; metric-band
  * assertions live in the scalatest suite. All metric outputs follow the
  * reference's 1-row-DataFrame convention (Dataset.py:656, 740, 856).
  */
object Pipelines extends QueryModule {

  /** lineitem with binary label + the arrest-shaped feature prep:
    * dtype-driven drop, categorical indexing, assembly.
    *
    * The timestamp drop is schema-driven (§2.2 P2, Dataset.py:580: the
    * reference scans dtypes and drops date/timestamp columns before ML),
    * not an explicit name list — after the needed date part is derived,
    * every TimestampType column goes, whatever the input schema.
    */
  private def labeled(s: SparkSession, d: String): DataFrame = {
    val withDerived = Tables.lineitem(s, d)
      .withColumn("label", (col("l_returnflag") === "R").cast("double"))
      .withColumn("ship_month", month(col("l_shipdate")).cast("double"))
    val tsCols = withDerived.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.TimestampType).map(_.name)
    withDerived.drop(tsCols.toIndexedSeq: _*).select(
      col("label"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("ship_month"), col("l_linestatus"))
  }

  /** StringIndexer → VectorAssembler → StandardScaler(withMean=false), the
    * reference's shared preamble (Dataset.py:582-608) with its parameters
    * (frequencyDesc, handleInvalid=keep, std-only scaling).
    */
  private def featurePipeline: Array[org.apache.spark.ml.PipelineStage] = Array(
    new StringIndexer()
      .setInputCols(Array("l_linestatus"))
      .setOutputCols(Array("l_linestatus_idx"))
      .setStringOrderType("frequencyDesc")
      .setHandleInvalid("keep"),
    new VectorAssembler()
      .setInputCols(Array("l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "ship_month", "l_linestatus_idx"))
      .setOutputCol("features_raw"),
    new StandardScaler()
      .setInputCol("features_raw").setOutputCol("features")
      .setWithMean(false).setWithStd(true))

  private def metricDf(s: SparkSession, name: String, v: Double): DataFrame = {
    import s.implicits._
    Seq((name, v)).toDF("metric", "value")
  }

  /** q40 — logistic regression (Dataset.py:563-682): maxIter=100,
    * regParam=0.1, 80/20 split seed 42, areaUnderROC.
    *
    * TRAIN is cached across the pipeline's fit passes (indexer count,
    * scaler stats, L-BFGS sweeps each trigger an action; uncached they'd
    * re-read parquet and re-sample the split every time) and unpersisted
    * before returning, and is repartitioned to the core count AFTER the
    * split (membership unchanged): the sf0.1 fixture is a single 10.8MB
    * row group, i.e. ONE scan partition, which would leave every iterative
    * fit pass single-threaded — the same sizing rule that matters on a
    * 1000-executor cluster reading coarse files. TEST is deliberately left
    * alone: it is scanned only twice (predict + AUC), and measured
    * end-to-end the shuffle+cache of the test split costs more than the
    * two passes it would save.
    */
  val lrAuc: Q = (s, d) => {
    val p = s.sparkContext.defaultParallelism
    val Array(train0, test) = labeled(s, d).randomSplit(Array(0.8, 0.2), seed = 42)
    val train = train0.repartition(p)
    train.cache()
    try {
      val pipe = new Pipeline().setStages(featurePipeline :+
        new LogisticRegression().setMaxIter(100).setRegParam(0.1)
          .setLabelCol("label").setFeaturesCol("features"))
      val pred = pipe.fit(train).transform(test)
      val auc = new BinaryClassificationEvaluator()
        .setMetricName("areaUnderROC").evaluate(pred)
      metricDf(s, "lr_roc_auc", auc)
    } finally train.unpersist()
  }

  /** q41 — random forest (Dataset.py:685-789): numTrees=20, maxDepth=10,
    * seed=42, areaUnderROC. maxMemoryInMB is raised from the 256 default so
    * more tree nodes fit per stats-aggregation pass — fewer full sweeps over
    * the (internally cached) training set; the split search itself is
    * unchanged, so the model is identical.
    */
  val rfAuc: Q = (s, d) => {
    val p = s.sparkContext.defaultParallelism
    val Array(train0, test) = labeled(s, d).randomSplit(Array(0.8, 0.2), seed = 42)
    // repartition after the split (membership unchanged; see lrAuc) — the
    // per-level stats aggregation then runs p-wide instead of 1-wide; test
    // is scanned only twice, not worth a shuffle+cache (see lrAuc)
    val train = train0.repartition(p)
    train.cache()
    try {
      val pipe = new Pipeline().setStages(featurePipeline :+
        new RandomForestClassifier().setNumTrees(20).setMaxDepth(10).setSeed(42)
          .setMaxMemoryInMB(1024)
          .setLabelCol("label").setFeaturesCol("features"))
      val pred = pipe.fit(train).transform(test)
      val auc = new BinaryClassificationEvaluator()
        .setMetricName("areaUnderROC").evaluate(pred)
      metricDf(s, "rf_roc_auc", auc)
    } finally train.unpersist()
  }

  /** q42 — GBT count regression (Dataset.py:792-863): pre-aggregate to
    * per-(nation, year, month) order counts (the reference's per-district
    * daily counts, Dataset.py:800), MinMaxScaler, maxIter=100, maxDepth=5,
    * stepSize=0.05, seed=42, 70/30 split, RMSE.
    */
  val gbtRmse: Q = (s, d) => {
    val counts = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"),
        year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).cast("double").as("label"))
      .select(col("c_nationkey").cast("double").as("nationkey"),
        col("y").cast("double"), col("m").cast("double"), col("label"))
    // The aggregated frame is ~2k rows: coalesce to ONE partition before the
    // iterative fit. GBT's 100 sequential boosting rounds each launch several
    // jobs; at 32 shuffle partitions that's thousands of near-empty tasks
    // dominating wall-clock. (At 100 TB the same pre-aggregation shrinks the
    // training set by orders of magnitude — sizing partitions to the
    // post-agg data, not the raw scan, is the point.)
    val small = counts.coalesce(1).cache()
    // GBT's 100 sequential rounds grow the prediction-error RDD's lineage;
    // without a checkpoint dir Spark never truncates it, so late-round task
    // binaries balloon (observed 1.4→2.6MB broadcasts) and every job pays
    // serialization for the whole chain. A checkpoint dir activates the
    // estimator's checkpointInterval=10 default and keeps lineage flat.
    if (s.sparkContext.getCheckpointDir.isEmpty)
      s.sparkContext.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
    try {
      val Array(train, test) = small.randomSplit(Array(0.7, 0.3), seed = 42)
      val pipe = new Pipeline().setStages(Array(
        new VectorAssembler().setInputCols(Array("nationkey", "y", "m"))
          .setOutputCol("features_raw"),
        new MinMaxScaler().setInputCol("features_raw").setOutputCol("features"),
        new GBTRegressor().setMaxIter(100).setMaxDepth(5).setStepSize(0.05)
          // more tree nodes per stats-aggregation pass — fewer sequential
          // jobs per boosting round; the split search itself is unchanged,
          // so the model is identical (q41's maxMemoryInMB argument,
          // verified: the sf0.01 RMSE is bit-identical before/after)
          .setMaxMemoryInMB(1024)
          .setSeed(42).setLabelCol("label").setFeaturesCol("features")))
      val pred = pipe.fit(train).transform(test)
      val rmse = new RegressionEvaluator().setMetricName("rmse").evaluate(pred)
      metricDf(s, "gbt_rmse", rmse)
    } finally { small.unpersist() }
  }

  /** q43 — KMeans k=3 seed=0 over per-nation order stats (the reference's
    * per-district avg-coords clustering, Dataset.py:272-291) → cluster
    * sizes.
    */
  val kmeansClusters: Q = (s, d) => {
    val perNation = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).cast("double").as("n_orders"),
        avg("o_totalprice").as("avg_price"))
    // 25 rows after aggregation: one partition, cached, so the k-means||
    // init and Lloyd iterations don't re-run the orders⋈customer join.
    val assembled = new VectorAssembler()
      .setInputCols(Array("n_orders", "avg_price")).setOutputCol("features")
      .transform(perNation)
      .coalesce(1).cache()
    try {
      val model = new KMeans().setK(3).setSeed(0).fit(assembled)
      val sizes = model.transform(assembled)
        .groupBy(col("prediction"))
        .agg(count(lit(1)).as("n_nations"))
        .orderBy("prediction")
      // materialize the 3-row result before dropping the cache (the returned
      // plan must not silently recompute the join after unpersist)
      val rows = java.util.Arrays.asList(sizes.collect(): _*)
      s.createDataFrame(rows, sizes.schema)
    } finally { assembled.unpersist() }
  }

  /** M14 — the reference's designed-but-disabled grid search
    * (CrossValidator/ParamGridBuilder, commented out at Dataset.py:615-642
    * and 745-760): LR regParam grid under seeded k-fold CV, best model
    * re-evaluated on the held-out test split. Kept off the bench/oracle
    * path exactly as the reference keeps it disabled — MlSpec smoke-fits a
    * 2-point grid × 2 folds. CV parallelism is the number of grid cells:
    * the candidate fits per fold are independent jobs.
    */
  def crossValidatedLr(s: SparkSession, d: String,
      regParams: Array[Double] = Array(0.01, 0.1), folds: Int = 2): DataFrame = {
    import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
    val Array(train, test) = labeled(s, d).randomSplit(Array(0.8, 0.2), seed = 42)
    train.cache()
    try {
      val lr = new LogisticRegression().setMaxIter(10)
        .setLabelCol("label").setFeaturesCol("features")
      val grid = new ParamGridBuilder().addGrid(lr.regParam, regParams).build()
      val cv = new CrossValidator()
        .setEstimator(new Pipeline().setStages(featurePipeline :+ lr))
        .setEvaluator(new BinaryClassificationEvaluator()
          .setMetricName("areaUnderROC"))
        .setEstimatorParamMaps(grid)
        .setNumFolds(folds)
        .setParallelism(regParams.length)
        .setSeed(42)
      val model = cv.fit(train)
      val bestReg = model.bestModel
        .asInstanceOf[org.apache.spark.ml.PipelineModel]
        .stages.last
        .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
        .getRegParam
      val auc = new BinaryClassificationEvaluator()
        .setMetricName("areaUnderROC").evaluate(model.transform(test))
      import s.implicits._
      Seq(("cv_lr_best_reg", bestReg), ("cv_lr_auc", auc)).toDF("metric", "value")
    } finally train.unpersist()
  }

  private val corrCols = Array("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** q44 — Pearson correlation matrix over lineitem numerics
    * (Dataset.py:883-885), flattened to (col_i, col_j, corr) rows.
    *
    * Computed as ONE codegen'd aggregate pass with the native `corr`
    * co-moment aggregate (6 upper-triangle cells; partial states merge
    * associatively, so it scales like any hash aggregate), then mirrored to
    * the full k×k shape with literal 1.0 on the diagonal. This replaces the
    * round-1 ml.stat.Correlation/RowMatrix path, which left whole-stage
    * codegen for an RDD[Vector] gramian and cost ~16s at sf0.1 where this
    * pass costs well under a second — and it is DuckDB-oracle-checkable.
    * The ml.stat API itself stays covered by [[corrMatrixViaMlStat]] +
    * MlSpec's parity test. The reference's empty-StringIndexer quirk
    * (Dataset.py:868) is resolved by simply not adding a no-op stage.
    */
  val corrMatrix: Q = (s, d) => {
    val aggs = for { i <- corrCols.indices; j <- corrCols.indices if i < j }
      yield round(corr(col(corrCols(i)), col(corrCols(j))), 4).as(s"c_${i}_$j")
    val one = Tables.lineitem(s, d).agg(aggs.head, aggs.tail: _*)
    val cells = for { i <- corrCols.indices; j <- corrCols.indices } yield
      struct(
        lit(corrCols(i)).as("col_i"),
        lit(corrCols(j)).as("col_j"),
        (if (i == j) lit(1.0)
         else col(s"c_${i min j}_${i max j}")).as("corr"))
    one.select(explode(array(cells: _*)).as("cell"))
      .select("cell.*")
      .orderBy("col_i", "col_j")
  }

  /** The reference's actual API for the matrix (M13, Dataset.py:883-885):
    * ml.stat.Correlation over an assembled vector. Not a bench query — the
    * native-aggregate q44 supersedes it — but kept as a library operator and
    * asserted equal to q44 in MlSpec.
    */
  def corrMatrixViaMlStat(s: SparkSession, d: String): DataFrame = {
    val assembled = new VectorAssembler()
      .setInputCols(corrCols).setOutputCol("features")
      .transform(Tables.lineitem(s, d))
      .select("features")
    val Row(m: Matrix) = Correlation.corr(assembled, "features", "pearson").head()
    import s.implicits._
    val rows = for {
      i <- corrCols.indices
      j <- corrCols.indices
    } yield (corrCols(i), corrCols(j), math.rint(m(i, j) * 1e4) / 1e4)
    rows.toDF("col_i", "col_j", "corr").orderBy("col_i", "col_j")
  }

  def queries: Map[String, Q] = Map(
    "q40_ml_lr_auc" -> lrAuc,
    "q41_ml_rf_auc" -> rfAuc,
    "q42_ml_gbt_rmse" -> gbtRmse,
    "q43_ml_kmeans" -> kmeansClusters,
    "q44_ml_corr_matrix" -> corrMatrix)

  /** Only q44 is SQL-expressible (iterative fits are metric-band tested). */
  def oracles: Map[String, String] = Map(
    "q44_ml_corr_matrix" -> {
      val cells = for { i <- corrCols.indices; j <- corrCols.indices } yield {
        // diagonal cells are literal 1.0 with NO FROM clause — `SELECT 1.0
        // FROM lineitem` has no aggregate and would emit one row per line
        if (i == j)
          s"SELECT '${corrCols(i)}' AS col_i, '${corrCols(j)}' AS col_j, 1.0 AS corr"
        else
          s"SELECT '${corrCols(i)}' AS col_i, '${corrCols(j)}' AS col_j, " +
            s"round(corr(${corrCols(i min j)}, ${corrCols(i max j)}), 4) AS corr FROM lineitem"
      }
      cells.mkString("SELECT col_i, col_j, corr FROM (\n", "\nUNION ALL ",
        "\n) ORDER BY col_i, col_j")
    })
}
