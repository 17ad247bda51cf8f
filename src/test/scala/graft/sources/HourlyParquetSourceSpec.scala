package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions.col
import graft.{HistFiles, SparkTestSession}

/** The hourly source's file listing, footer ranges and declared-schema
  * reads, each checked against what Spark's own directory read does.
  */
class HourlyParquetSourceSpec extends AnyFunSuite with SparkTestSession {

  private val Now = 720000L // hour boundary x200
  private val Hour = Now / 3600 * 3600

  private def rows(ts: Long*): Seq[HistFiles.Row] =
    ts.map(t => (t, 1L, 6, 100L + t % 7, 11, 3232235777L + t % 3))

  private def uriPath(p: String): String = new HPath(p).toUri.getPath

  test("listing skips _SUCCESS, .crc and _temporary/ exactly as Spark's directory read") {
    val dir = Files.createTempDirectory("listing")
    val hour = dir.resolve(s"level_$Hour")
    histDf(rows(Now - 10, Now - 5): _*).coalesce(1).write.parquet(hour.toString)
    HistFiles.write(hour.resolve("part-extra.parquet"), rows(Now - 400))
    HistFiles.write(hour.resolve("_temporary/0/part-pending.parquet"), rows(Now - 1))
    HistFiles.write(hour.resolve(".part-hidden.parquet"), rows(Now - 2))
    val names = Files.list(hour).toArray.map(_.toString.split('/').last).toSet
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")) && names("_temporary"))

    val src = new HourlyParquetSource(spark, dir.toString, clock = () => Now)
    val listed = src.hourFiles(2).flatMap(_._2).map(f => uriPath(f.path)).toSet
    val sparkRead = spark.read.parquet(hour.toString).inputFiles.map(uriPath).toSet
    assert(listed === sparkRead)
    assert(listed.size === 2)
    assert(listed.forall(p => !p.contains("_temporary") && !p.split('/').last.startsWith(".")))
  }

  test("footer range is the file's [min, max] timestamp; no statistics → no range") {
    val dir = Files.createTempDirectory("footer")
    val hour = dir.resolve(s"level_$Hour")
    HistFiles.write(hour.resolve("a.parquet"), rows(Now - 30, Now - 700, Now - 5))
    histDf(rows(Now - 50, Now - 40): _*).coalesce(1).write
      .option("parquet.column.statistics.enabled", "false")
      .parquet(hour.resolve("nostats").toString)
    val noStats = Files.list(hour.resolve("nostats")).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".parquet")).head
    // the footer really carries no statistics for the column
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new HPath(noStats.toUri), spark.sparkContext.hadoopConfiguration))
    try {
      val ts = reader.getFooter.getBlocks.get(0).getColumns.toArray
        .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
        .find(_.getPath.toDotString == "timestamp").get
      assert(ts.getStatistics == null || ts.getStatistics.isEmpty)
    } finally reader.close()

    val src = new HourlyParquetSource(spark, dir.toString, clock = () => Now)
    val byName = src.hourFiles(1).flatMap(_._2).map(f => f.path.split('/').last -> f).toMap
    assert(byName("a.parquet").tsRange === Some((Now - 700, Now - 5)))
    assert(byName(noStats.getFileName.toString).tsRange === None)
    assert(byName("a.parquet").length === Files.size(hour.resolve("a.parquet")))
  }

  test("explicit-file and directory declared-schema reads return the inferred read's rows") {
    val dir = Files.createTempDirectory("declared")
    histDf(rows(Now - 4000, Now - 3700): _*).coalesce(1).write.parquet(dir.resolve(s"level_${Hour - 3600}").toString)
    histDf(rows(Now + 10, Now + 20, Now + 30): _*).repartition(2).write.parquet(dir.resolve(s"level_$Hour").toString)
    HistFiles.write(dir.resolve(s"level_$Hour/part-direct.parquet"), rows(Now + 40))
    val src = new HourlyParquetSource(spark, dir.toString, clock = () => Now + 60)
    val byDir = spark.read.parquet(src.existingPaths(2): _*)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select(byDir.columns.map(col).toSeq: _*).collect().map(_.toSeq.mkString(",")).sorted.toSeq
    for (declared <- Seq(src.read(2).get, src.readFiles(src.hourFiles(2).flatMap(_._2)))) {
      assert(declared.schema === byDir.schema)
      assert(sorted(declared) === sorted(byDir))
      assert(sorted(declared).size === 6)
    }
  }

  test("a CountPkt INT32 file is widened to the declared BIGINT") {
    val dir = Files.createTempDirectory("int32")
    val hour = dir.resolve(s"level_$Hour").toString
    histDf(rows(Now + 1, Now + 2): _*).withColumn("CountPkt", col("CountPkt").cast("int"))
      .coalesce(1).write.parquet(hour)
    val src = new HourlyParquetSource(spark, dir.toString, clock = () => Now)
    for (df <- Seq(src.read(1).get, src.readFiles(src.hourFiles(1).flatMap(_._2)))) {
      val got = df.select("CountPkt").collect().map(_.getLong(0)).sorted.toSeq
      assert(got === rows(Now + 1, Now + 2).map(_._4).sorted)
    }
  }
}
