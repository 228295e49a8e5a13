package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}
import graft.sources.Tables

/** Coverage for the small reference operators that aren't oracle-checkable
  * (engine-specific RNG, ids, caching, sinks — SURVEY §2.1 S2/S5/S7/S11,
  * §2.2 P14/P15/P16/P17). */
class MiscOpsSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  lazy val orders = Tables.orders(spark, sfDir)

  test("sample is deterministic under a fixed seed (P14, ML_Sentiment.py:44)") {
    val a = orders.sample(withReplacement = true, 0.1, 3).count()
    val b = orders.sample(withReplacement = true, 0.1, 3).count()
    assert(a == b && a > 0)
  }

  test("randomSplit partitions the table under a fixed seed (P15, ML_Modeling.py:241)") {
    val Array(tr, te) = orders.randomSplit(Array(0.75, 0.25), seed = 42)
    assert(tr.count() + te.count() == orders.count())
    assert(tr.intersect(te).count() == 0)
  }

  test("monotonically_increasing_id is unique (P16 hazard, Sentiment_Analysis.py:112)") {
    val withId = orders.withColumn("join_id", monotonically_increasing_id())
    assert(withId.select("join_id").distinct().count() == orders.count())
  }

  test("df.transform pipelines a rename helper (P17/P3, Data_Gathering.py:205-211)") {
    val renamed = orders.transform(df =>
      df.withColumnsRenamed(Map("o_orderkey" -> "okey", "o_custkey" -> "ckey")))
    assert(renamed.columns.contains("okey") && !renamed.columns.contains("o_orderkey"))
  }

  test("cache round-trips identical results (S11)") {
    val c = orders.filter($"o_totalprice" > 100000).cache()
    val n1 = c.count(); val n2 = c.count()
    assert(n1 == n2)
    c.unpersist()
  }

  test("CSV sink/scan round-trip preserves rows (S2/S5, project_starter_script.py:137-141)") {
    val dir = tempDir("graft_csv").toString + "/out"
    val src = orders.select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    src.coalesce(1).write.option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.count() == src.count())
    assert(back.columns.toSeq == src.columns.toSeq)
  }

  test("ORC sink/scan round-trip with predicate pushdown (columnar source beyond parquet)") {
    val dir = tempDir("graft_orc").toString + "/out"
    val src = orders.select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    src.write.orc(dir)
    val back = spark.read.orc(dir).filter($"o_totalprice" > 1000.0)
    assert(back.count() == src.filter($"o_totalprice" > 1000.0).count())
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"),
      s"expected ORC pushdown in:\n$plan")
  }

  test("partitioned parquet sink enables partition pruning (S4 + §4)") {
    val dir = tempDir("graft_part").toString + "/by_status"
    orders.write.partitionBy("o_orderstatus").parquet(dir)
    val pruned = spark.read.parquet(dir).filter($"o_orderstatus" === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"expected partition filter in:\n$plan")
    assert(pruned.count() == orders.filter($"o_orderstatus" === "F").count())
  }

  test("JSON sink/scan round-trip with explicit schema (north-star: JSON/Parquet)") {
    val dir = tempDir("graft_json").toString + "/events"
    val src = Tables.events(spark, sfDir)
      .select($"event_id", $"event_type", $"value", $"props")
    src.write.json(dir)
    val back = spark.read.schema(src.schema).json(dir)
    assert(back.count() == src.count())
    // JSON column inside JSON text still parses through get_json_object
    val k = back.select(get_json_object($"props", "$.k").cast("int").as("k"))
    assert(k.filter($"k".isNull).count() == 0)
  }

  test("Hadoop FS ops replace dbutils.fs (S7, project_starter_script.py:20)") {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(sfDir)
    val names = fs.listStatus(p).map(_.getPath.getName).toSet
    assert(names.contains("lineitem.parquet"))
  }

  test("zstd parquet round-trips and beats snappy on text (the 100 TB codec)") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    def write(codec: String): (String, Long) = {
      val dir = tempDir(s"graft_$codec").toString
      docs.coalesce(1).write.mode("overwrite")
        .option("compression", codec).parquet(dir)
      val bytes = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      (dir, bytes)
    }
    val (zDir, zBytes) = write("zstd")
    val (_, sBytes) = write("snappy")
    val back = spark.read.parquet(zDir)
    assert(back.count() == docs.count())
    assert(back.as("b").join(docs.as("d"), Seq("doc_id"))
      .filter(col("b.text") =!= col("d.text")).count() == 0)
    assert(zBytes < sBytes, s"zstd=$zBytes snappy=$sBytes")
  }
}
