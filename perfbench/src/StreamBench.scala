package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.reference.SpikeParams
import graft.streaming.{SpikeAlert, StreamingDetect}

/** One set-up of the streaming workload: a session, the staged feed and
  * a running `StreamingDetect` query over a parquet file stream whose
  * directory receives one part file per landing.
  */
final class StreamSetup(val spark: SparkSession, seed: Long, dir: Path, landings: Int) {
  private val w = StreamDetect
  val layout: Seq[PartSpec] = w.layout(landings)
  private val files = PassBench.writeStaging(spark, w, seed, layout, dir.resolve("staging"))
  private val streamDir = Files.createDirectories(dir.resolve("stream"))
  private val out = mutable.ArrayBuffer.empty[SpikeAlert]
  /** Alerts emitted while each landing was processed. */
  val landingOut = mutable.LinkedHashMap.empty[Int, Seq[SpikeAlert]]

  private val sinkFn: (Dataset[SpikeAlert], Long) => Unit = (ds, _) => {
    val a = ds.collect()
    out.synchronized(out ++= a)
  }

  val query: StreamingQuery = StreamingDetect
    .detect(spark.readStream.schema(PassBench.Schema).parquet(streamDir.toString),
      w.WindowSec, w.DelaySec, SpikeParams())
    .writeStream
    .outputMode("append")
    .option("checkpointLocation", dir.resolve("checkpoint").toString)
    .foreachBatch(sinkFn)
    .start()

  def land(j: Int): Unit = {
    val f = files(layout(j).id)
    Files.move(f, streamDir.resolve(f.getFileName))
  }

  /** Blocks until landing j is processed: its data batch and the
    * following no-data batch that advances the watermark past every
    * value it could have had before the landing.
    */
  def await(j: Int): Unit = {
    val from = out.synchronized(out.size)
    val floor = w.now(j) - 46 // ≥ the watermark before landing j
    val deadline = System.nanoTime() + 120000000000L
    def wm(p: StreamingQueryProgress) =
      Option(p).flatMap(x => Option(x.eventTime.get("watermark")))
        .map(s => Instant.parse(s).getEpochSecond).getOrElse(Long.MinValue)
    query.processAllAvailable()
    while (wm(query.lastProgress) <= floor) {
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"landing $j not processed")
      query.processAllAvailable()
    }
    landingOut(j) = out.synchronized(out.drop(from).toSeq)
  }

  def stop(): Unit = { query.stop(); spark.stop() }
}

final class StreamBench(o: PassBench.Opts, rep: Report) {
  import PassBench._
  private val w = StreamDetect
  /** Traced and untraced landings alternate in blocks of one window. */
  private val Block = (w.WindowSec / Workloads.Step).toInt
  private val landings = w.warm + math.max(MinPasses, math.ceil(o.seconds * 4).toInt) +
    (if (o.trace) MinPasses + 2 * Block else 1)
  private val failedLandings = mutable.Set.empty[Int]

  def run(): Unit = {
    val setupS = mutable.ArrayBuffer.empty[Double]
    var st: StreamSetup = null
    for (r <- 0 until (if (o.trace) 1 else SetupReps)) {
      val t = System.nanoTime()
      if (st != null) { st.stop(); deleteTree(o.work.resolve(s"rep${r - 1}")) }
      val s = new StreamSetup(session(), o.seed, o.work.resolve(s"rep$r"), landings)
      for (j <- 0 until w.warm) { s.land(j); s.await(j) }
      st = s
      setupS += (System.nanoTime() - t) / 1e9
    }
    try if (o.trace) traced(st) else timed(st, setupS.toSeq)
    finally st.query.stop()
  }

  /** One landing: move the file, wait for its batches; returns seconds. */
  private def landing(s: StreamSetup, j: Int): Double = {
    val t = System.nanoTime()
    s.land(j)
    s.await(j)
    (System.nanoTime() - t) / 1e9
  }

  private def timed(s: StreamSetup, setupS: Seq[Double]): Unit = {
    val smp = new Samples
    val t0 = System.nanoTime()
    var j = w.warm
    def elapsed = (System.nanoTime() - t0) / 1e9
    var alive = true
    while (alive && (elapsed < o.seconds || j - w.warm < MinPasses) && j < landings) {
      rep.attempted += 1
      try smp.latS += landing(s, j)
      catch { case e: Exception =>
        rep.failed += 1; failedLandings += j; alive = false
        rep.note(s"landing $j threw $e")
      }
      smp.rows += w.landRows
      j += 1
    }
    smp.wallNs = System.nanoTime() - t0
    val heap = heapMb()
    smp.endToEnd(rep, setupS)
    rep.put("heap_mb", heap)
    check(s, j)
  }

  /** Checks every landing's alerts against the independent model. */
  private def check(s: StreamSetup, end: Int): Unit = {
    val chk = new StreamChecker(w.WindowSec, w.DelaySec, SpikeParams().limitNewData,
      SpikeParams().quotientAmplification)
    val fixed = mutable.ArrayBuffer.empty[(PartSpec, Rows)]
    val emitted = mutable.ArrayBuffer.empty[Int]
    for (j <- 0 until end) {
      val r = w.gen(o.seed, s.layout(j))
      require(r.n == w.landRows, "landing size")
      if (j < w.warm + MinPasses) fixed += (s.layout(j) -> r)
      val want = chk.landing(r).sorted
      val got = s.landingOut.get(j).map(_.map(a =>
        (a.window_start, a.num_protocol, a.type_proto, a.baseline, a.dst_ip)).sorted)
      if (!got.contains(want) && !failedLandings(j)) {
        rep.correct = false
        if (j >= w.warm) { rep.failed += 1; failedLandings += j }
        rep.note(s"landing $j: alerts differ from the checker (got ${got.map(_.size)}, want ${want.size})")
      }
      if (j >= w.warm && j < w.warm + MinPasses) emitted += want.size
    }
    if (failedLandings.nonEmpty) rep.correct = false
    rep.note(s"feed_fingerprint ${Fingerprint.of(fixed.toSeq)} parts ${fixed.size}")
    rep.note("landing_rows " + fixed.drop(w.warm).map(_._2.n).mkString(","))
    rep.note("emitted_per_pass " + emitted.mkString(","))
    rep.note(s"checker state keys ${chk.stateKeys}")
  }

  /** Traced run: blocks of `Block` landings alternate between no
    * listener and the probe (SparkListener + StreamingQueryListener);
    * traced landings are split into spans from the micro-batch progress.
    */
  private def traced(s: StreamSetup): Unit = {
    val probe = new Probe(s.spark)
    val spans = new Spans
    val msBase = System.currentTimeMillis(); val nsBase = System.nanoTime()
    def nsOf(ms: Long) = nsBase + (ms - msBase) * 1000000L
    val samples = mutable.ArrayBuffer.empty[LayerSample]
    val latOn, latOff = mutable.ArrayBuffer.empty[Double]

    def tracedLanding(j: Int): LayerSample = {
      // progress of earlier, untraced batches may still be in flight
      val seenBatch = Option(s.query.lastProgress).map(_.batchId).getOrElse(-1L)
      val root = spans.buf.size
      spans("landing", j) {
        spans("land", j)(s.land(j))
        spans("await", j)(s.await(j))
      }
      val c = probe.fence()
      val last = s.query.lastProgress.batchId
      val deadline = System.nanoTime() + 30000000000L
      val ps = mutable.ArrayBuffer.empty[StreamingQueryProgress]
      while (ps.lastOption.forall(_.batchId < last)) {
        val p = probe.progress.poll()
        if (p == null) {
          if (System.nanoTime() > deadline) throw new IllegalStateException("progress events missing")
          Thread.sleep(1)
        } else if (p.batchId > seenBatch) ps += p
      }
      val await = root + 2
      for (p <- ps) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
        val awaitSpan = spans.buf(await)
        val t0 = math.max(awaitSpan.startNs, nsOf(Instant.parse(p.timestamp).toEpochMilli))
        val t1 = math.min(awaitSpan.endNs, t0 + d("triggerExecution") * 1000000L)
        val trig = spans.add("trigger", j, await, t0, t1)
        var t = t0
        for (k <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")) {
          val e = math.min(t1, t + d(k) * 1000000L)
          spans.add(k, j, trig, t, e)
          t = e
        }
      }
      val self = spans.selfNs
      def selfOf(names: String*) =
        (root until spans.buf.size).filter(i => names.contains(spans.buf(i).name)).map(self).sum / 1e9
      val wall = spans.buf(root).durNs / 1e9
      def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
      val ops = ps.flatMap(_.stateOperators.headOption)
      val stateMs = ops.map(x => x.allUpdatesTimeMs + x.allRemovalsTimeMs + x.commitTimeMs).sum
      val ls = new LayerSample
      ls("stream.trigger_s") = dur("triggerExecution")
      ls("stream.latest_offset_s") = dur("latestOffset")
      ls("stream.add_batch_s") = dur("addBatch")
      ls("stream.wal_commit_s") = dur("walCommit") + dur("commitOffsets")
      ls("stream.input_rows") = ps.map(_.numInputRows).sum
      ls("stream.state_rows") = ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
      ls("stream.state_rows_updated") = ops.map(_.numRowsUpdated).sum
      ls("stream.state_rows_removed") = ops.map(_.numRowsRemoved).sum
      ls("stream.state_mem_bytes") = ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
      ls("stream.state_update_s") = ops.map(_.allUpdatesTimeMs).sum / 1e3
      ls("stream.state_commit_s") = ops.map(_.commitTimeMs).sum / 1e3
      ls("stream.state_share") = if (c.runMs == 0) 0.0 else stateMs.toDouble / c.runMs
      ls("stream.alerts_out") = s.landingOut(j).size
      ls("stream.jobs") = c.jobs
      ls("stream.tasks") = c.tasks
      ls("layer.stream_offsets") = selfOf("latestOffset", "getBatch") / wall
      ls("layer.stream_wal") = selfOf("walCommit", "commitOffsets") / wall
      ls("layer.stream_exec") = selfOf("queryPlanning", "addBatch") / wall
      ls("layer.stream_wait") = selfOf("landing", "land", "await", "trigger") / wall
      ls("pass_s") = wall
      ls
    }

    val t0 = System.nanoTime()
    var j = w.warm
    def elapsed = (System.nanoTime() - t0) / 1e9
    var alive = true
    while (alive && (elapsed < o.seconds || samples.size < MinPasses || latOff.size < MinPasses) &&
      j < landings) {
      val on = ((j - w.warm) / Block) % 2 == 0
      if (on && (j - w.warm) % Block == 0) probe.attach()
      rep.attempted += 1
      try {
        if (on) { val x = tracedLanding(j); samples += x; latOn += x.v("pass_s") }
        else latOff += landing(s, j)
      } catch { case e: Exception =>
        rep.failed += 1; failedLandings += j; alive = false
        rep.note(s"landing $j threw $e")
      }
      if (on && (j - w.warm) % Block == Block - 1) probe.detach()
      j += 1
    }
    check(s, j)

    val fixed = samples.take(MinPasses).toSeq
    val counters = Seq("stream.input_rows", "stream.state_rows", "stream.state_rows_updated",
      "stream.state_rows_removed", "stream.alerts_out", "stream.jobs", "stream.tasks")
    def med(k: String, xs: Seq[LayerSample]) = median(xs.map(_.v(k)))
    val layers = samples.head.v.keys.filter(_.startsWith("layer.")).toSeq
    for (k <- samples.head.v.keys if k != "pass_s")
      rep.put(k, med(k, if (counters.contains(k)) fixed else samples.toSeq))
    rep.put("scheduler.trace_coverage",
      median(samples.map(x => layers.filter(_ != "layer.stream_wait").map(x.v).sum).toSeq))
    rep.put("scheduler.trace_overhead", median(latOn.toSeq) / median(latOff.toSeq) - 1)
    rep.note("deterministic_counters " + counters.map(k => s"$k=${fixed.map(_.v(k).toLong).mkString("/")}").mkString(" "))
    rep.note(s"dominant_layer ${layers.maxBy(k => med(k, samples.toSeq))} " +
      layers.map(k => f"$k=${med(k, samples.toSeq)}%.3f").mkString(" ") +
      f" (state store time ÷ task time ${med("stream.state_share", samples.toSeq)}%.2f)")
    rep.note(f"trace_overhead: traced p50 ${median(latOn.toSeq)}%.4f s vs untraced p50 ${median(latOff.toSeq)}%.4f s")
    Files.write(o.work.resolve("spans.jsonl"), spans.toJsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    rep.note(s"spans ${spans.buf.size} written to ${o.work.getFileName}/spans.jsonl")
  }
}
