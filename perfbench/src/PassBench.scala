package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Product-path pass benchmark. Drives the engine's public entry points
  * (`SpikeScheduler.runOnce`, `StreamingDetect.detect`) over a feed
  * generated from `--seed`, in a closed loop: one caller lands the next
  * part file only after the previous pass or micro-batch returned.
  *
  * `--trace 0` measures the end-to-end metrics with no listener
  * attached. `--trace 1` runs the same loop and additionally a traced
  * twin of each pass, built from the same public calls, and reports the
  * per-layer metrics. The last line of stdout is one JSON object.
  *
  * Usage: PassBench --workload W --seed N --seconds S --trace 0|1 --work DIR
  */
object PassBench {
  /** Timed passes every run makes, even past `--seconds`: the tail needs
    * ten samples beyond it, and the feed fingerprint and the
    * deterministic counters cover exactly this prefix of the timed region.
    */
  val MinPasses = 20
  /** Set-ups per untraced run; `setup_s` is their median. */
  val SetupReps = 3
  val Schema: StructType = StructType(Seq(
    StructField("timestamp", LongType, nullable = false),
    StructField("subagent_id", LongType, nullable = false),
    StructField("num_protocol", IntegerType, nullable = false),
    StructField("CountPkt", LongType, nullable = false),
    StructField("type_proto", IntegerType, nullable = false),
    StructField("dst_ip", LongType, nullable = false)))

  final case class Opts(workload: Workload, seed: Long, seconds: Double, trace: Boolean, work: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(Workloads.byName(need("workload")), need("seed").toLong, need("seconds").toDouble,
      need("trace") match { case "0" => false; case "1" => true; case t => throw new IllegalArgumentException(s"--trace $t") },
      Paths.get(need("work")).toAbsolutePath)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val rep = new Report
    try {
      if (o.workload.streaming) new StreamBench(o, rep).run() else new BatchBench(o, rep).run()
      SparkSession.getDefaultSession.foreach(_.stop())
      println(rep.json(o.trace))
    } catch { case e: Throwable =>
      e.printStackTrace()
      System.exit(1)
    }
    // no engine thread may keep the JVM (and so the caller) waiting
    System.exit(0)
  }

  def session(): SparkSession =
    graft.core.GraftSession.local("perfbench", Runtime.getRuntime.availableProcessors.toString)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).iterator.asScala.foreach(Files.delete)
    finally s.close()
  }

  /** Writes every part of `layout` to `staging/part-<id>.parquet`, one
    * Spark task per part, and returns the file of each part.
    */
  def writeStaging(spark: SparkSession, w: Workload, seed: Long, layout: Seq[PartSpec],
                   staging: Path): Map[Int, Path] = {
    val name = w.name
    val dir = Files.createDirectories(staging).toString
    spark.sparkContext.parallelize(layout, layout.size).foreach { p =>
      writeParquet(Workloads.byName(name).gen(seed, p), Paths.get(dir, s"part-${p.id}.parquet"))
    }
    layout.map(p => p.id -> staging.resolve(s"part-${p.id}.parquet")).toMap
  }

  private val ParquetSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message hist { required int64 timestamp; required int64 subagent_id;
      |required int32 num_protocol; required int64 CountPkt; required int32 type_proto;
      |required int64 dst_ip; }""".stripMargin)

  /** One snappy parquet file in the reference schema, rows in order. */
  def writeParquet(r: Rows, path: Path): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    val out = ExampleParquetWriter.builder(new org.apache.parquet.io.LocalOutputFile(path))
      .withType(ParquetSchema).withCompressionCodec(CompressionCodecName.SNAPPY)
      .withConf(new org.apache.hadoop.conf.Configuration(false)).build()
    val f = new SimpleGroupFactory(ParquetSchema)
    try for (i <- 0 until r.n) out.write(f.newGroup()
      .append("timestamp", r.ts(i)).append("subagent_id", r.sub(i))
      .append("num_protocol", r.proto(i)).append("CountPkt", r.pkt(i))
      .append("type_proto", r.typ(i)).append("dst_ip", r.ip(i)))
    finally out.close()
  }

  def writeWatchlist(path: Path, ips: Array[Long]): Unit = {
    val w = Files.newBufferedWriter(path)
    try {
      w.write("# perfbench watch-list\n")
      ips.foreach { ip => w.write(BatchChecker.dotted(ip)); w.write('\n') }
    } finally w.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, samples).
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val i = math.max(0, s.size - 11)
    (s(i), 100.0 * (i + 1) / s.size, s.size)
  }

  def heapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Every metric the benchmark reports, with its unit. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "latency_p50_s" -> "s", "latency_tail_s" -> "s", "ingest_rows_per_s" -> "rows/s",
    "setup_s" -> "s", "heap_mb" -> "MB")

  /** Per-layer metrics of the traced run. A metric of a layer that a
    * workload does not run (the stream layer on a batch workload, and
    * the reverse) reads 0.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "sources.discover_s" -> "s", "sources.read_s" -> "s", "sources.files_read" -> "count",
    "sources.rows_read" -> "count", "sources.bytes_read" -> "bytes", "sources.scan_s" -> "s",
    "detect.build_s" -> "s", "detect.collect_s" -> "s", "detect.agg_rows_out" -> "count",
    "detect.agg_s" -> "s", "detect.shuffle_bytes" -> "bytes", "detect.spill_bytes" -> "bytes",
    "detect.gc_s" -> "s", "detect.task_run_s" -> "s", "detect.task_cpu_s" -> "s",
    "detect.task_skew" -> "ratio", "detect.jobs" -> "count", "detect.stages" -> "count",
    "detect.tasks" -> "count", "detect.sched_delay_s" -> "s", "detect.alerts_raw" -> "count",
    "detect.result_bytes" -> "bytes", "dedup.process_s" -> "s", "dedup.alerts_in" -> "count",
    "dedup.alerts_out" -> "count", "dedup.pass_ratio" -> "ratio", "dedup.tracked_keys" -> "count",
    "watchlist.lookups" -> "count", "watchlist.lookup_s" -> "s", "watchlist.size" -> "count",
    "watchlist.refresh_s" -> "s", "sink.emits" -> "count", "sink.emit_s" -> "s",
    "stream.trigger_s" -> "s", "stream.latest_offset_s" -> "s", "stream.add_batch_s" -> "s",
    "stream.wal_commit_s" -> "s", "stream.input_rows" -> "count", "stream.state_rows" -> "count",
    "stream.state_rows_updated" -> "count", "stream.state_rows_removed" -> "count",
    "stream.state_mem_bytes" -> "bytes", "stream.state_update_s" -> "s",
    "stream.state_commit_s" -> "s", "stream.state_share" -> "ratio", "stream.alerts_out" -> "count",
    "stream.jobs" -> "count", "stream.tasks" -> "count",
    "layer.sources" -> "ratio", "layer.scan_aggregate" -> "ratio", "layer.rollup" -> "ratio",
    "layer.collect" -> "ratio",
    "layer.reference" -> "ratio", "layer.app" -> "ratio", "layer.stream_offsets" -> "ratio",
    "layer.stream_wal" -> "ratio", "layer.stream_exec" -> "ratio", "layer.stream_wait" -> "ratio",
    "scheduler.trace_coverage" -> "ratio", "scheduler.trace_overhead" -> "ratio")

  val unit: Map[String, String] = (endToEnd ++ perLayer).toMap
}

/** Metrics and notes of one run. Notes go to stdout as `# ` lines. */
final class Report {
  var correct = true
  var attempted = 0
  var failed = 0
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  def note(s: String): Unit = println(s"# $s")
  def put(name: String, v: Double): Unit = {
    require(Metrics.unit.contains(name), s"unregistered metric $name")
    metrics(name) = v
  }
  def json(trace: Boolean): String = {
    val names = if (trace) Metrics.perLayer else Metrics.endToEnd
    val ms = names.map { case (k, u) =>
      val v = if (trace) metrics.getOrElse(k, 0.0)
        else metrics.getOrElse(k, throw new IllegalStateException(s"metric $k not measured"))
      val num = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** Per-pass samples of the timed region. */
final class Samples {
  val latS = mutable.ArrayBuffer.empty[Double]
  var rows = 0L
  var wallNs = 0L

  def endToEnd(rep: Report, setupS: Seq[Double]): Unit = {
    import PassBench._
    val jvmS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    rep.note(f"run phases: JVM start to end of timed region $jvmS%.1f s, set-ups ${setupS.sum}%.1f s, " +
      f"timed ${wallNs / 1e9}%.1f s")
    val (tv, tp, tn) = tail(latS.toSeq)
    rep.put("latency_p50_s", median(latS.toSeq))
    rep.put("latency_tail_s", tv)
    rep.put("ingest_rows_per_s", rows / (wallNs / 1e9))
    rep.put("setup_s", median(setupS))
    rep.note(f"latency_tail_s is p$tp%.1f of $tn samples; setup_s runs: ${setupS.map(s => f"$s%.3f").mkString(" ")}")
    rep.note(s"failed_ratio ${rep.failed}/${rep.attempted}")
  }
}
