package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.OutputMode

import graft.{SparkSpec, TempDirs}

/** The stream driver's lifecycle: what a run leaves behind in the
  * session (catalog views, active queries, the shuffle width) and on disk
  * (the throwaway checkpoint), on success and on failure. */
class StreamDriverSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private val Width = "spark.sql.shuffle.partitions"

  /** A file stream over ids 0..99, split into two files. */
  private lazy val stream: DataFrame = {
    val dir = suiteTempDir("graft_driver_stream").toString
    spark.range(100).toDF("id").repartition(2).write.parquet(s"$dir/ids")
    spark.readStream.schema("id LONG").option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/ids")
  }

  private def checkpoints(): Set[Path] =
    scala.util.Using.resource(Files.list(StreamDriver.checkpointRoot)) { ls =>
      ls.iterator().asScala
        .filter(_.getFileName.toString.startsWith(StreamDriver.CheckpointPrefix)).toSet
    }

  test("runToMemory leaves no view in the catalog; its frames keep their rows") {
    val before = spark.catalog.listTables().count()
    val runs = Seq.fill(2)(EventsStream.runToMemory(stream, OutputMode.Append()))
    assert(spark.catalog.listTables().count() == before)
    runs.foreach { out =>
      assert(out.as[Long].collect().sorted.toSeq == (0L until 100L))
      assert(out.agg(org.apache.spark.sql.functions.sum("id")).as[Long].head() == 4950L)
    }
    // the dropped view does not break a join of the returned frames
    assert(runs(0).join(runs(1), "id").count() == 100L)
  }

  private def failOnBatchZero(form: String)(
      run: ((DataFrame, Long) => Unit) => Unit): Unit = {
    val prevWidth = spark.conf.get(Width)
    val prior = checkpoints()
    var live = Set.empty[Path]
    var widthInRun = ""
    val e = intercept[Exception] {
      run { (_, batchId) =>
        live = checkpoints() -- prior
        widthInRun = spark.conf.get(Width)
        if (batchId == 0) throw new IllegalStateException(s"$form failed on batch 0")
      }
    }
    assert(e.getMessage.contains(s"$form failed on batch 0"), e.getMessage)
    assert(spark.streams.active.isEmpty)
    assert(live.nonEmpty, "the run made a throwaway checkpoint")
    assert(live.forall(p => !Files.exists(p)), live)
    assert(spark.conf.get(Width) == prevWidth)
    if (form == "drain") assert(widthInRun == "7")
  }

  test("eachBatch: a failing batch reaches the caller; no query or checkpoint is left") {
    failOnBatchZero("eachBatch")(f => StreamDriver.eachBatch(stream)(f))
  }

  test("drain: a failing batch restores the state width it set") {
    failOnBatchZero("drain")(f =>
      StreamDriver.drain(stream, statePartitions = Some(7))(_.foreachBatch(f)))
  }
}
