package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}
import graft.sources.Tables

class PipelinesSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  /** Small supervised table from lineitem: predict return-flag class /
    * extendedprice from shape features. */
  lazy val data = Tables.lineitem(spark, sfDir)
    .select(
      col("l_returnflag").as("flag"),
      col("l_linestatus").as("status"),
      col("l_quantity"), col("l_discount"), col("l_tax"),
      col("l_extendedprice").as("price"))
    .withColumn("label", when(col("flag") === "A", 0.0).when(col("flag") === "N", 1.0).otherwise(2.0))
    .cache()

  test("feature pipeline + RF classifier trains and predicts all classes") {
    val stages = Pipelines.featureStages(Seq("status"), Seq("l_quantity", "l_discount", "l_tax"))
    val model = new Pipeline()
      .setStages((stages :+ Pipelines.rfClassifier("label", numTrees = 10)).toArray)
      .fit(data)
    val pred = model.transform(data)
    assert(Pipelines.accuracy("label").evaluate(pred) > 0.3)
    assert(pred.select("prediction").distinct().count() >= 1)
  }

  test("class weights are inverse-frequency and join back onto every row") {
    val w = Pipelines.withClassWeights(data, "label")
    assert(w.count() == data.count())
    val means = w.groupBy("label").agg(first("weight").as("wt"), count(lit(1)).as("n"))
      .collect().map(r => (r.getDouble(1), r.getLong(2)))
    // larger class -> smaller weight
    val sorted = means.sortBy(_._2)
    assert(sorted.head._1 >= sorted.last._1)
  }

  /** Tiny labeled text corpus for the TF-IDF featurizer variants. */
  lazy val textData = Tables.documents(spark, sfDir)
    .select(split(lower(col("text")), "\\s+").as("tokens"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("label"))
    .cache()

  test("HashingTF/IDF pipeline featurizes and trains (NFL_Processing.py:421-431)") {
    val stages = Pipelines.hashedTfIdfStages("tokens", numFeatures = 1 << 12)
    val model = new Pipeline()
      .setStages((stages :+ Pipelines.rfClassifier("label", numTrees = 5)).toArray)
      .fit(textData)
    val pred = model.transform(textData)
    assert(pred.columns.contains("features") && pred.columns.contains("prediction"))
    // hashed vectors are non-empty for non-empty docs
    val v = pred.select("features").head
      .getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(v.numNonzeros > 0)
  }

  test("CountVectorizer/IDF pipeline builds a vocabulary and featurizes") {
    val stages = Pipelines.countVectorizedStages("tokens", vocabSize = 1000)
    val model = new Pipeline().setStages(stages.toArray).fit(textData)
    val cv = model.stages.collectFirst {
      case m: org.apache.spark.ml.feature.CountVectorizerModel => m
    }.get
    assert(cv.vocabulary.nonEmpty && cv.vocabulary.length <= 1000)
    val v = model.transform(textData).select("features").head
      .getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(v.numNonzeros > 0)
  }

  test("GBT regressor beats predicting the mean (XGBoost substitute)") {
    val stages = Pipelines.featureStages(Seq("flag", "status"), Seq("l_quantity", "l_discount"))
    val model = new Pipeline()
      .setStages((stages :+ Pipelines.gbtRegressor("price")).toArray)
      .fit(data)
    val rmse = Pipelines.rmse("price").evaluate(model.transform(data))
    val sd = data.agg(stddev_pop(col("price"))).head.getDouble(0)
    assert(rmse < sd, s"rmse=$rmse should beat sd=$sd")
  }

  test("OneVsRest(LinearSVC) trains (ML_Sentiment.py:385)") {
    val stages = Pipelines.featureStages(Seq("status"), Seq("l_quantity", "l_discount"), scale = true)
    val model = new Pipeline()
      .setStages((stages :+ Pipelines.ovrLinearSvc("label")).toArray)
      .fit(data.limit(2000))
    assert(model.transform(data.limit(500)).select("prediction").count() == 500)
  }

  test("model persistence round-trips (S8, ML_Modeling.py:247-253)") {
    val stages = Pipelines.featureStages(Seq("status"), Seq("l_quantity"))
    val model = new Pipeline()
      .setStages((stages :+ Pipelines.rfClassifier("label", numTrees = 3)).toArray)
      .fit(data.limit(1000))
    val dir = tempDir("graft_model").toString + "/rf"
    model.write.overwrite().save(dir)
    val back = PipelineModel.load(dir)
    val a = model.transform(data.limit(200)).select("prediction").collect().map(_.getDouble(0)).toSeq
    val b = back.transform(data.limit(200)).select("prediction").collect().map(_.getDouble(0)).toSeq
    assert(a == b)
  }

  test("IndexToString decodes predictions back to label strings (ML_Sentiment.py:189)") {
    val stages = Pipelines.featureStages(Seq("status"), Seq("l_quantity", "l_discount"))
    val pred = new Pipeline()
      .setStages((stages :+ Pipelines.rfClassifier("label", numTrees = 5)).toArray)
      .fit(data).transform(data)
    val decoded = Pipelines.labelDecoder(Array("A", "N", "R")).transform(pred)
    assert(decoded.select("predicted_label").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("A", "N", "R")))
  }

  test("VectorIndexer flags low-cardinality vector slots as categorical") {
    val assembled = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("l_quantity", "l_discount")).setOutputCol("features")
      .transform(data.limit(2000))
    val model = Pipelines.vectorIndexer(maxCategories = 60).fit(assembled)
    // l_quantity has 50 distinct integral values -> categorical; keep both slots
    assert(model.categoryMaps.keySet.contains(0))
    assert(model.transform(assembled).columns.contains("features_indexed"))
  }

  test("correlation matrix is symmetric with unit diagonal (feature_correlation.py)") {
    val m = Pipelines.correlationMatrix(data, Seq("l_quantity", "l_discount", "l_tax", "price"))
    assert(m.numRows == 4 && m.numCols == 4)
    (0 until 4).foreach(i => assert(math.abs(m(i, i) - 1.0) < 1e-9))
    for (i <- 0 until 4; j <- 0 until 4) assert(math.abs(m(i, j) - m(j, i)) < 1e-9)
  }

  test("confusion matrix diagonal dominates for a fitted classifier") {
    val stages = Pipelines.featureStages(Seq("status"), Seq("l_quantity", "l_discount", "l_tax"))
    val pred = new Pipeline()
      .setStages((stages :+ Pipelines.rfClassifier("label", numTrees = 10)).toArray)
      .fit(data).transform(data)
    val cm = Pipelines.confusionMatrix(pred, "label", Seq("0", "1", "2"))
    assert(cm.count() <= 3)
    assert(cm.columns.toSeq == Seq("label", "0", "1", "2"))
  }
}
