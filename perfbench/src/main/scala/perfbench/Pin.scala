package perfbench

import java.io.File

/** Re-pins the registry digests: runs every registry query on the fixture
  * under two shuffle-partition widths and keeps the queries whose digest
  * is the same under both (a digest that moves with the physical posture
  * cannot be a check). Writes `registry_digests.tsv` (name, digest, warm
  * seconds) and prints the queries it left out. */
object Pin {
  def run(root: File): Unit = {
    val fixtureDir = Workloads.fixture(root)
    val spark = Main.session(root, "2")
    spark.sparkContext.setLogLevel("ERROR")
    def digests(width: String): Map[String, Either[String, (String, Double)]] = {
      spark.conf.set("spark.sql.shuffle.partitions", width)
      Registry.families.flatMap(_._2).map { q =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        q.name -> (try Right(Digest(q.run(spark, fixtureDir)) -> (System.nanoTime() - t0) / 1e9)
          catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") })
      }.toMap
    }
    val a = digests("2")
    val b = digests("7")
    val lines = a.keys.toSeq.sorted.flatMap { n =>
      (a(n), b(n)) match {
        case (Right((da, _)), Right((db, secs))) if da == db => Some(f"$n\t$da\t$secs%.3f")
        case (x, y) => println(s"[pin] excluded $n: $x / $y"); None
      }
    }
    Main.write(Registry.digestsFile(root), lines.mkString("\n") + "\n")
    println(s"[pin] ${lines.size} of ${a.size} queries pinned")
    spark.stop()
  }
}
