package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites: the [[EntryPoint]]
  * bootstrap on a fixed 4 cores, so plan and partition assertions do
  * not depend on the host, with a temporary warehouse directory. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = EntryPoint.session(
    cores = SparkSpec.cores,
    conf = Map("spark.sql.warehouse.dir" -> SparkSpec.warehouse))

  /** [[SparkSpec.tempDir]]. */
  def tempDir(prefix: String): java.nio.file.Path = SparkSpec.tempDir(prefix)

  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  /** A persisted index's current generation (0 for a fresh build). */
  def idxGen(path: String): Long =
    graft.sink.IndexManifest.latest(spark, path).gen

  /** Read a persisted-index logical subtree through its manifest
    * pointer (rewrites move the physical dir — [[graft.sink
    * .IndexManifest]]). */
  def idxDf(path: String, logical: String)
      : org.apache.spark.sql.DataFrame =
    spark.read.parquet(
      graft.sink.IndexLayout.resolve(spark, path, logical))

  /** Does a logical subtree physically exist right now? */
  def idxDirExists(path: String, logical: String): Boolean =
    graft.sink.IndexLayout.dirExists(spark,
      graft.sink.IndexLayout.resolve(spark, path, logical))
}

object SparkSpec {
  /** Cores (and shuffle partitions) of the test session. */
  val cores = 4

  private val created =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  sys.addShutdownHook(created.forEach { dir =>
    org.apache.commons.io.FileUtils.deleteQuietly(dir); ()
  })

  /** A new temp directory, deleted with its contents when the test JVM
    * exits. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    created.add(dir.toFile)
    dir
  }

  /** The test JVM's one warehouse directory: [[EntryPoint.session]] is
    * getOrCreate, so only the first suite's conf ever applies. */
  lazy val warehouse: String = tempDir("graft-wh").toString
}
