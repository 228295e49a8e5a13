package graft.tools

import java.util.Locale
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.graft.ListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The one run recorder of the `graft.tools` mains: a SparkListener
  * counting jobs, stages, tasks, executor run / CPU / GC /
  * (de)serialization / other time, shuffle read and write records and
  * bytes, and disk spill, plus the generated classes Janino compiled and
  * the time it took. [[stage]] times a block and prints ONE JSON line
  * with the counter deltas over it:
  *
  * {{{
  * {"tool":"curation","stage":"2 dedup keepers","wall_s":1.234,"result":96141,
  *  "jobs":3,"stages":5,"tasks":41,"run_s":3.210,"cpu_s":2.950,"gc_s":0.040,
  *  "ser_s":0.120,"other_s":0.015,"shuffle_read_records":101234,
  *  "shuffle_read_mb":4.1,"shuffle_write_records":101234,
  *  "shuffle_write_mb":4.1,"spill_mb":0.0,"compiles":12,"compile_s":0.431}
  * }}}
  *
  * (`result` appears when the block returns an Int or a Long — a row
  * count.) Before every read the listener bus is drained exactly
  * ([[ListenerBus.drain]]), so no event of one stage lands in the next
  * stage's deltas however loaded the box is. `other_s` is task wall time
  * outside run, deserialize and result serialization: scheduling and
  * fetch waits. `compiles` and `compile_s` are JVM-wide (Spark's static
  * codegen counters, read in [[totals]]): classes compiled by any thread
  * of this JVM, summed compile time over threads, so `compile_s` can
  * exceed `wall_s`. A class found in Spark's generated-code cache costs
  * neither. Closing removes the listener. */
final class RunMetrics(spark: SparkSession, tool: String)
    extends SparkListener with AutoCloseable {
  import RunMetrics._

  private val sc = spark.sparkContext
  private val jobs, stages, tasks, runMs, cpuNs, gcMs, serMs, otherMs,
    readRecords, readBytes, writeRecords, writeBytes, spillBytes = new LongAdder
  /** In [[RunMetrics.Fields]] order. */
  private val adders = Vector(jobs, stages, tasks, runMs, cpuNs, gcMs, serMs,
    otherMs, readRecords, readBytes, writeRecords, writeBytes, spillBytes)
  private val compiled0 = compiled()
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.increment()
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = t.taskMetrics
    if (m != null) {
      val ser = m.resultSerializationTime + m.executorDeserializeTime
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      serMs.add(ser)
      otherMs.add(math.max(0L, t.taskInfo.finishTime - t.taskInfo.launchTime -
        m.executorRunTime - ser))
      readRecords.add(m.shuffleReadMetrics.recordsRead)
      readBytes.add(m.shuffleReadMetrics.totalBytesRead)
      writeRecords.add(m.shuffleWriteMetrics.recordsWritten)
      writeBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.diskBytesSpilled)
    }
  }

  /** Cumulative counts since this recorder opened, after a bus drain. */
  def totals(): Counts = {
    ListenerBus.drain(sc, DrainTimeoutMs)
    Counts(adders.map(_.sum) ++ compiled().zip(compiled0).map { case (a, b) => a - b })
  }

  /** Time `f`, print its JSON line, return its result. */
  def stage[T](label: String)(f: => T): T = {
    val before = totals()
    val t0 = System.nanoTime()
    val result = f
    val wall = (System.nanoTime() - t0) / 1e9
    val delta = totals() - before
    val res = result match {
      case n: Long => s""","result":$n"""
      case n: Int => s""","result":$n"""
      case _ => ""
    }
    println(s"""{"tool":${quote(tool)},"stage":${quote(label)},""" +
      s""""wall_s":${num(wall, 3)}$res,${delta.json}}""")
    result
  }

  override def close(): Unit = {
    ListenerBus.drain(sc, DrainTimeoutMs)
    sc.removeSparkListener(this)
  }
}

object RunMetrics {
  private val DrainTimeoutMs = 60000L
  private val MB = 1.0 / (1L << 20)

  /** (JSON name, raw-counter-to-printed-unit scale, printed decimals). */
  private val Fields: Vector[(String, Double, Int)] = Vector(
    ("jobs", 1, 0), ("stages", 1, 0), ("tasks", 1, 0),
    ("run_s", 1e-3, 3), ("cpu_s", 1e-9, 3), ("gc_s", 1e-3, 3),
    ("ser_s", 1e-3, 3), ("other_s", 1e-3, 3),
    ("shuffle_read_records", 1, 0), ("shuffle_read_mb", MB, 1),
    ("shuffle_write_records", 1, 0), ("shuffle_write_mb", MB, 1),
    ("spill_mb", MB, 1),
    ("compiles", 1, 0), ("compile_s", 1e-9, 3))

  /** Classes compiled and compile ns, JVM-wide since start-up. */
  private def compiled(): Vector[Long] = Vector(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  final case class Counts(raw: Vector[Long]) {
    def -(o: Counts): Counts = Counts(raw.zip(o.raw).map { case (a, b) => a - b })
    def apply(field: String): Long = raw(Fields.indexWhere(_._1 == field))
    def json: String = Fields.zip(raw).map { case ((name, scale, dec), v) =>
      s""""$name":${num(v * scale, dec)}"""
    }.mkString(",")
  }

  private def num(v: Double, decimals: Int): String =
    if (decimals == 0) v.toLong.toString
    else String.format(Locale.ROOT, s"%.${decimals}f", Double.box(v))

  /** A JSON string literal in plain ASCII: everything outside printable
    * ASCII goes out as a JSON unicode escape, so a label reads the same
    * whatever charset the JVM writes stdout in. */
  private[tools] def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' || c > '~' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""

  /** Materialize every column of every row without collecting: the
    * Bench sink. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
