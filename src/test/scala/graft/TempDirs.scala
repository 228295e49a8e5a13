package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.scalatest.{BeforeAndAfterAll, BeforeAndAfterEach, Suite}

import graft.streaming.EventsStream

/** Temp directories a suite makes through [[tempDir]] are deleted when the
  * test that made them ends, pass or fail; those made through
  * [[suiteTempDir]] (shared by several tests) when the suite ends, and
  * those made through [[TempDirs.jvmTempDir]] (shared by every suite)
  * when the test JVM exits. */
trait TempDirs extends BeforeAndAfterEach with BeforeAndAfterAll { this: Suite =>
  private val testDirs = ArrayBuffer.empty[Path]
  private val suiteDirs = ArrayBuffer.empty[Path]

  private def make(into: ArrayBuffer[Path], prefix: String): Path = synchronized {
    val d = Files.createTempDirectory(prefix)
    into += d
    d
  }

  def tempDir(prefix: String): Path = make(testDirs, prefix)

  def suiteTempDir(prefix: String): Path = make(suiteDirs, prefix)

  private def deleteAll(dirs: ArrayBuffer[Path]): Unit = synchronized {
    try dirs.filter(Files.exists(_)).foreach(EventsStream.deleteRecursively)
    finally dirs.clear()
  }

  override def afterEach(): Unit =
    try super.afterEach() finally deleteAll(testDirs)

  override def afterAll(): Unit =
    try super.afterAll() finally deleteAll(suiteDirs)
}

object TempDirs {
  def jvmTempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    sys.addShutdownHook(if (Files.exists(d)) EventsStream.deleteRecursively(d))
    d
  }
}
