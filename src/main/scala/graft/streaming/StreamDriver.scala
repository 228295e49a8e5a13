package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.DataStreamWriter

/** The one stream lifecycle. Every streaming entry point of the engine
  * (the harness runners [[EventsStream.runToNoop]] and
  * [[EventsStream.runToMemory]], and every foreachBatch sink) starts,
  * drains, stops and cleans up its stream through [[drain]]: the
  * checkpoint, the state width and the cleanup live in this file only
  * (`HarnessFenceSpec` holds that fence). */
object StreamDriver {
  private val Width = "spark.sql.shuffle.partitions"

  private[streaming] val CheckpointPrefix = "graft-stream-ckpt"

  /** Where throwaway checkpoints go: tmpfs (/dev/shm) when writable. The
    * state store writes delta files per micro-batch, and on a plain-disk
    * /tmp that I/O dominates the local stream-stream join wall time. */
  private[streaming] def checkpointRoot: Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
    else Paths.get(System.getProperty("java.io.tmpdir"))
  }

  /** Start `stream` with `sink` applied to its writer, process all input
    * available now, stop the query and clean up.
    *
    * `checkpoint`: a caller-supplied (durable) location is used as is and
    * kept, so a restart over it replays from where the last run stopped.
    * `None` makes a throwaway checkpoint under [[checkpointRoot]], deleted
    * when the run ends (a throwaway checkpoint forfeits exactly-once on
    * restart). The query is stopped in a `finally` before that delete,
    * so a drain that fails never deletes a checkpoint under a live query;
    * the failure reaches the caller.
    *
    * `statePartitions` sets `spark.sql.shuffle.partitions` for the stream
    * and restores it after. For a stateful stream this is the STATE-STORE
    * partition count, a sizing decision rather than a tuning nit: it is
    * frozen into the checkpoint at first start (a restart cannot change
    * it), and every micro-batch pays one state-store open/commit per
    * partition regardless of row volume. Size it to the expected state
    * (keys × window retention), not to the batch shuffle width; at sf0.1,
    * 32 partitions spent 3× the wall time of 8 on per-partition store
    * overhead for identical results.
    *
    * CONCURRENCY CONSTRAINT: `statePartitions` mutates the session-global
    * conf for the stream's duration (set/restore is exception-safe). A
    * batch query planned CONCURRENTLY on the same session would plan with
    * the stream's width: fine for the strictly sequential Bench and Verify
    * harnesses; a parallel caller must scope the conf with a cloned
    * session (`spark.newSession()`). */
  def drain[T](stream: Dataset[T], statePartitions: Option[Int] = None,
               checkpoint: Option[String] = None)(
      sink: DataStreamWriter[T] => DataStreamWriter[T]): Unit = {
    val conf = stream.sparkSession.conf
    val prevWidth = statePartitions.map(_ => conf.get(Width))
    val ckpt = checkpoint.getOrElse(
      Files.createTempDirectory(checkpointRoot, CheckpointPrefix).toString)
    try {
      statePartitions.foreach(n => conf.set(Width, n.toLong))
      val q = sink(stream.writeStream.option("checkpointLocation", ckpt)).start()
      try q.processAllAvailable() finally q.stop()
    } finally {
      prevWidth.foreach(conf.set(Width, _))
      if (checkpoint.isEmpty) EventsStream.deleteRecursively(Paths.get(ckpt))
    }
  }

  /** The foreachBatch form of [[drain]]: `f` runs on every micro-batch
    * with its batch id. */
  def eachBatch[T](stream: Dataset[T], checkpoint: Option[String] = None)(
      f: (Dataset[T], Long) => Unit): Unit =
    drain(stream, checkpoint = checkpoint)(_.foreachBatch(f))
}
