package graft.sink

import java.io.FileNotFoundException
import java.nio.file.Files

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

/** The library's one parquet I/O path. Every parquet read and write
  * of `Tables`, `graft.sink` and `graft.operators` goes through here,
  * and so does every driver-side Hadoop `FileSystem` of `graft.sink`.
  * A managed-table write (`saveAsTable`) does not: its options persist
  * into the table's catalog entry, where a later reader would need
  * this library's classes.
  * The rule: no plan-time Spark job and no forked process per file.
  *
  *  - [[writer]] is `df.write` with two per-write Hadoop options that
  *    serve `file:` paths from [[NioLocalFileSystem]]. Without native
  *    `libhadoop`, Hadoop's `RawLocalFileSystem.setPermission` forks a
  *    `chmod` process for every directory, part file and `.crc` sidecar
  *    a write creates; the NIO call sets the same bits with one system
  *    call. The options ride the write's
  *    own Hadoop conf, so nothing is set on the session and other
  *    schemes are untouched. `fs.file.impl.disable.cache` keeps
  *    Hadoop's shared `file:` instance (the session's) out of it.
  *  - [[fs]] is the driver-side `FileSystem` built with the same
  *    options: manifest commits, fresh layouts and versioned rewrites
  *    create directories through it.
  *  - [[read]] resolves the schema on the driver: it lists the
  *    directory down to the data file Spark's inference would read —
  *    the first by full path string, skipping the `_`- and `.`-prefixed
  *    names Spark's file index skips — and converts that file's footer
  *    with Spark's own footer-to-schema code ([[FooterSchema]]).
  *    `spark.read.parquet(dir)` without a schema submits a Spark job for
  *    the same footer while the plan is built. Like Spark's inference
  *    without `mergeSchema`, it assumes the files of one directory agree
  *    on their schema; with `spark.sql.parquet.mergeSchema` on in the
  *    session it leaves the inference to Spark. The summary files
  *    `_metadata` and `_common_metadata`, which Spark's inference would
  *    prefer, are not read: Spark has not written them by default since
  *    2.0. Partition columns are still discovered from the directory
  *    names, and come last.
  */
object Parquet {

  private val fileOptions = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `df.write` whose `file:` output sets permissions without a fork. */
  def writer(df: DataFrame): DataFrameWriter[Row] =
    df.write.options(fileOptions)

  /** The driver-side `FileSystem` of `path`, with [[writer]]'s options. */
  def fs(spark: SparkSession, path: Path): FileSystem = {
    val conf = spark.sessionState.newHadoopConf()
    fileOptions.foreach { case (k, v) => conf.set(k, v) }
    path.getFileSystem(conf)
  }

  /** `spark.read.parquet(dir)` with its schema resolved on the driver.
    * With no data file under `dir` (or no `dir`), or with schema merging
    * on, Spark's own read runs, and fails, as it does. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val p = new Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    val first =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
      else firstDataFile(p.getFileSystem(conf), p)
    first match {
      case Some(file) =>
        spark.read.schema(FooterSchema.of(spark, file, conf)).parquet(dir)
      case None => spark.read.parquet(dir)
    }
  }

  private def firstDataFile(fs: FileSystem, p: Path): Option[FileStatus] =
    try {
      val st = fs.getFileStatus(p)
      if (st.isFile) Some(st) else firstBelow(fs, p)
    } catch { case _: FileNotFoundException => None }

  /** The first data file below `dir` by full path string, the order
    * of Spark's `ParquetUtils.splitFiles`. A directory sorts by its
    * name plus `/`, the prefix every path below it shares, so the first
    * non-empty entry in that order holds the first path. */
  private def firstBelow(fs: FileSystem, dir: Path): Option[FileStatus] =
    fs.listStatus(dir)
      .filterNot(st => hidden(st.getPath.getName))
      .sortBy(st => st.getPath.getName + (if (st.isFile) "" else "/"))
      .iterator
      .flatMap(st => if (st.isFile) Some(st) else firstBelow(fs, st.getPath))
      .nextOption()

  /** The names Spark's file listing leaves out
    * (`HadoopFSUtils.shouldFilterOutPathName`). The summary files
    * `_metadata` and `_common_metadata`, which Spark's inference would
    * prefer, are left out too: Spark has not written them by default
    * since 2.0. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
}

/** Hadoop's checksummed local filesystem over [[NioRawLocalFileSystem]]:
  * `.crc` sidecars are written and checked as before. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` is one `chmod(2)` through
  * NIO instead of a forked `chmod` process. The bits are the ones the
  * forked `chmod 0<mode>` leaves: the requested permission (the caller
  * has applied the umask) with its sticky bit, and a directory keeps
  * its setuid and setgid bits. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    val mode = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
    val kept = if ((mode & NioRawLocalFileSystem.TypeMask) ==
        NioRawLocalFileSystem.Directory) mode & NioRawLocalFileSystem.SetIds
      else 0
    Files.setAttribute(f, "unix:mode",
      Int.box(kept | (permission.toShort & NioRawLocalFileSystem.Bits)))
  }
}

private object NioRawLocalFileSystem {
  val TypeMask = 0xf000  // S_IFMT, octal 0170000
  val Directory = 0x4000 // S_IFDIR, octal 0040000
  val SetIds = 0xc00     // setuid and setgid, octal 06000
  val Bits = 0x3ff       // sticky and rwx for all, octal 01777
}
