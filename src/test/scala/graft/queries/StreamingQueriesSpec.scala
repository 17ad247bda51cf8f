package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** The st* registry entries all run through one MemoryStream feed
  * harness. These checks pin its failure path and run two entries in
  * tier-1 against their one-shot batch answers: st08 covers the
  * single-stream memory-sink path, st06 the two-stream path.
  */
class StreamingQueriesSpec extends AnyFunSuite with SparkTestSession {

  private val D = "/root/testdata/sf0.001"

  test("feed restores the conf scope and stops the query when a batch throws") {
    val s = spark
    import s.implicits._
    val shuffleKey = "spark.sql.shuffle.partitions"
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    def confs = (spark.conf.get(shuffleKey), spark.conf.get(noDataKey))
    val before = confs
    var inside = before
    val err = intercept[IllegalStateException] {
      StreamingQueries.feed[Long](spark)(in =>
        StreamingQueries.memorySink(in.toDF(), "st_feed_failure_probe"))(
        in => { inside = confs; in.addData(1L, 2L) },
        _ => throw new IllegalStateException("batch step failed"))
    }
    assert(err.getMessage === "batch step failed")
    assert(inside === (("8", "false")), "the feed runs inside the stream conf scope")
    assert(inside !== before, "the probe needs a session whose confs differ from the scope")
    assert(confs === before)
    assert(spark.streams.active.isEmpty)
  }

  test("st08 equals the one-shot batch groupBy(event_type) count/sum") {
    val got = StreamingQueries.all("st08_streaming_complete_agg")(spark, D).collect().toSeq
    val want = Tables.events(spark, D)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_value_c"))
      .orderBy("event_type")
      .collect().toSeq
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("st06 equals the batch inner join it documents") {
    val got = StreamingQueries.all("st06_stream_stream_join")(spark, D).collect().toSeq
    val ev = Tables.events(spark, D)
      .select(col("event_id"), col("user_id"), Tables.tsSec.as("sec"))
    val l = ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id").as("l_event"), col("user_id"), col("sec").as("l_sec"))
    val r = ev.filter(col("event_id") % 2 =!= 0)
      .select(col("event_id").as("r_event"), col("user_id").as("r_user"),
        col("sec").as("r_sec"))
    val want = l.join(r,
        col("user_id") === col("r_user") &&
          col("r_sec") > col("l_sec") && col("r_sec") <= col("l_sec") + 3600L)
      .select("l_event", "r_event", "user_id", "l_sec", "r_sec")
      .orderBy("l_event", "r_event")
      .collect().toSeq
    assert(want.nonEmpty)
    assert(got === want)
  }
}
