package graft.sources

import java.io.FileNotFoundException
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.streaming.HistRow

/** One data file of an hourly file: its identity (path, length,
  * modification time) and the `[min, max]` of its `timestamp` column
  * from the parquet footer — `None` when the footer cannot say (a row
  * group without statistics for it, no rows, a non-integer column, an
  * unreadable footer).
  */
final case class DataFile(path: String, length: Long, mtime: Long, tsRange: Option[(Long, Long)])

/** The reference's hourly-file discovery (`ReadData`, hha.py:278–313):
  * file `<dir>/<prefix><floor(now/3600)*3600 - i*3600>` for
  * i ∈ [0, numberFiles), each probed for existence via the Hadoop
  * FileSystem API (works for hdfs:// and file:// alike), silently
  * skipping absent hours; `None` when nothing is readable (the
  * reference returns False and skips the iteration).
  *
  * The clock is injected — the reference's direct `time.time()`
  * (hha.py:295) makes its windows untestable (SURVEY.md §7 risks).
  *
  * Every read uses the declared [[HistRow]] schema, so no job runs to
  * infer it. [[hourFiles]] lists an hour's data files under Spark's
  * hidden-file rule and reads each file's footer range once per
  * identity; `graft.app.SpikeScheduler` uses it to fold files that
  * can no longer change a window once, instead of re-reading the
  * horizon on every pass. That identity is (path, length, mtime): a
  * landed part file is taken as immutable, or replaced by one that
  * differs in one of the three.
  */
final class HourlyParquetSource(
    spark: SparkSession,
    dir: String,
    prefix: String = "level_",
    clock: () => Long = () => System.currentTimeMillis() / 1000) {

  private val fs: FileSystem =
    new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Built once: parquet's default read options load a fresh Hadoop
    * configuration on every open, about 10 ms per footer.
    */
  private lazy val readOptions =
    HadoopReadOptions.builder(spark.sparkContext.hadoopConfiguration).build()

  /** Footer ranges of the last listing, by identity. */
  private var footers = Map.empty[(String, Long, Long), Option[(Long, Long)]]

  /** Hour-floored candidate paths, newest first (hha.py:293–297). */
  def candidatePaths(numberFiles: Int): Seq[String] = {
    val roundHour = clock() / 3600 * 3600
    (0 until numberFiles).map(i => s"$dir/$prefix${roundHour - i * 3600L}")
  }

  /** Existing files among the candidates (hha.py:299–301). */
  def existingPaths(numberFiles: Int): Seq[String] =
    candidatePaths(numberFiles).filter(p => fs.exists(new HPath(p)))

  /** The data files of each existing candidate hour, newest hour first.
    * An hour is a parquet file or a directory of them; directories are
    * listed recursively, skipping what Spark's directory read skips
    * (`_SUCCESS`, `_temporary/`, `.crc` and other `_`/`.` names,
    * `._COPYING_` files).
    */
  def hourFiles(numberFiles: Int): Seq[(String, Seq[DataFile])] = {
    val hours = existingPaths(numberFiles).flatMap { p =>
      try Some(p -> leafFiles(fs.getFileStatus(new HPath(p))).map { st =>
        val id = (st.getPath.toString, st.getLen, st.getModificationTime)
        DataFile(id._1, id._2, id._3, footers.getOrElse(id, footerRange(st)))
      })
      catch { case _: FileNotFoundException => None } // hour gone mid-listing
    }
    footers = hours.flatMap(_._2).map(f => (f.path, f.length, f.mtime) -> f.tsRange).toMap
    hours
  }

  /** The given data files as one frame in the declared schema. */
  def readFiles(files: Seq[DataFile]): DataFrame =
    spark.read.schema(HourlyParquetSource.Schema).parquet(files.map(_.path): _*)

  /** Read the last `numberFiles` hourly files as one frame. */
  def read(numberFiles: Int): Option[DataFrame] = {
    val paths = existingPaths(numberFiles)
    if (paths.isEmpty) None
    else
      try Some(spark.read.schema(HourlyParquetSource.Schema).parquet(paths: _*))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
  }

  private def leafFiles(st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq
      .filterNot(c => HourlyParquetSource.hidden(c.getPath.getName))
      .sortBy(_.getPath.getName)
      .flatMap(leafFiles)

  private def footerRange(st: FileStatus): Option[(Long, Long)] =
    try {
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromStatus(st, spark.sparkContext.hadoopConfiguration), readOptions)
      try {
        val ranges = reader.getFooter.getBlocks.asScala.toSeq.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == "timestamp").flatMap { c =>
            val s = c.getStatistics
            val integral = c.getPrimitiveType.getLogicalTypeAnnotation == null &&
              (c.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64 ||
                c.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT32)
            if (!integral || s == null || s.isEmpty || !s.hasNonNullValue) None
            else Some((s.genericGetMin.asInstanceOf[Number].longValue,
              s.genericGetMax.asInstanceOf[Number].longValue))
          }
        }
        if (ranges.isEmpty || ranges.exists(_.isEmpty)) None
        else Some((ranges.map(_.get._1).min, ranges.map(_.get._2).max))
      } finally reader.close()
    } catch { case NonFatal(_) => None }
}

object HourlyParquetSource {

  /** The reference histogram schema every hourly read declares. */
  private val Schema: StructType = Encoders.product[HistRow].schema

  /** Spark's hidden-path rule for file-source directory reads. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")
}
