package graft

import java.nio.file.{Files, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Writes histogram parquet files directly, without a Spark job, so
  * specs can land many small part files cheaply. Rows are
  * (timestamp, subagent_id, num_protocol, CountPkt, type_proto, dst_ip),
  * the tuple order of `SparkTestSession.histDf`.
  */
object HistFiles {

  type Row = (Long, Long, Int, Long, Int, Long)

  private val Schema = MessageTypeParser.parseMessageType(
    """message hist { required int64 timestamp; required int64 subagent_id;
      |required int32 num_protocol; required int64 CountPkt; required int32 type_proto;
      |required int64 dst_ip; }""".stripMargin)

  /** One snappy parquet file with footer statistics; replaces `path`. */
  def write(path: Path, rows: Seq[Row]): Path = {
    Files.createDirectories(path.getParent)
    Files.deleteIfExists(path)
    val out = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(Schema)
      .withConf(new org.apache.hadoop.conf.Configuration(false)).build()
    val f = new SimpleGroupFactory(Schema)
    try rows.foreach { case (t, s, p, c, ty, ip) =>
      out.write(f.newGroup().append("timestamp", t).append("subagent_id", s)
        .append("num_protocol", p).append("CountPkt", c)
        .append("type_proto", ty).append("dst_ip", ip))
    } finally out.close()
    path
  }
}
