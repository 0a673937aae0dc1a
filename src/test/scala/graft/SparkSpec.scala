package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, sequential suites). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Absolute path of a test resource (kept on disk by sbt). */
  def res(name: String): String = getClass.getResource("/" + name).getPath
}

object SparkSpec {
  /** A fresh, unique work dir under the suite JVM's PID-scoped scratch
    * dir ([[Scratch.dir]]), so every spec's stores are removed at JVM
    * exit instead of accumulating in java.io.tmpdir. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val root = java.nio.file.Paths.get(Scratch.dir("graft_specs"))
    java.nio.file.Files.createDirectories(root)
    java.nio.file.Files.createTempDirectory(root, prefix)
  }

  lazy val session: SparkSession = {
    val s = GraftSession.build("4")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
