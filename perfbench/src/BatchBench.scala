package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import graft.app.{FileWatchlist, HhaConfig, LogRuleSink, RuleSink, SpikeScheduler, WatchlistProvider}
import graft.reference.{Alert, AlertDedup, SpikeDetector}
import graft.sources.HourlyParquetSource

/** Watch-list wrapper that counts and times lookups. */
final class TimedWatchlist(inner: WatchlistProvider) extends WatchlistProvider {
  var lookups = 0L
  var ns = 0L
  def current: Set[Long] = inner.current
  override def contains(ip: Long): Boolean = {
    val t = System.nanoTime()
    val r = inner.contains(ip)
    ns += System.nanoTime() - t
    lookups += 1
    r
  }
}

/** Rule-sink wrapper that counts emits. */
final class CountingSink(inner: RuleSink) extends RuleSink {
  var emits = 0L
  def emit(a: Alert): Unit = { inner.emit(a); emits += 1 }
}

/** One set-up of a batch workload: a session, the staged feed, the
  * watch-list file and a scheduler over the landed files.
  */
final class BatchSetup(val spark: SparkSession, w: Workload, seed: Long, dir: Path, landings: Int) {
  val config = HhaConfig(limitDetectTimeSec = w.ttlSec)
  val layout: Seq[PartSpec] = w.layout(landings)
  val files: Map[Int, Path] = PassBench.writeStaging(spark, w, seed, layout, dir.resolve("staging"))
  val feedDir: Path = dir.resolve("feed")
  private val watchPath = dir.resolve("watchlist.txt")
  PassBench.writeWatchlist(watchPath, w.watchlist(seed))
  val refreshS = mutable.ArrayBuffer.empty[Double]
  val watchlist: FileWatchlist = timedRefresh(new FileWatchlist(watchPath))
  layout.filter(_.landing < 0).foreach(land)

  var now = 0L
  val lines = mutable.ArrayBuffer.empty[String]
  val sched = new SpikeScheduler(
    new HourlyParquetSource(spark, feedDir.toString, clock = () => now),
    config, watchlist, new LogRuleSink(lines += _), clock = () => now, sleeper = _ => ())

  def landing(j: Int): PartSpec = layout.find(_.landing == j).get

  def land(p: PartSpec): Unit = {
    val d = feedDir.resolve(p.dir)
    Files.createDirectories(d)
    val f = files(p.id)
    Files.move(f, d.resolve(f.getFileName))
  }

  def timedRefresh[A](body: => A): A = {
    val t = System.nanoTime()
    try body finally refreshS += (System.nanoTime() - t) / 1e9
  }

  /** The watch-list daemon's 300 s refresh, due before pass j. */
  def refreshDue(j: Int): Boolean =
    j > 0 && Math.floorDiv(Workloads.batchNow(w, j), 300L) != Math.floorDiv(Workloads.batchNow(w, j - 1), 300L)

  /** One untraced pass: returns (alerts, sink lines, seconds). */
  def passA(j: Int): (Seq[Alert], Seq[String], Double) = {
    now = Workloads.batchNow(w, j)
    val from = lines.size
    val t = System.nanoTime()
    val alerts = sched.runOnce()
    val s = (System.nanoTime() - t) / 1e9
    (alerts, lines.drop(from).toSeq, s)
  }
}

/** Per-layer values of one traced pass. */
final class LayerSample {
  val v = mutable.LinkedHashMap.empty[String, Double]
  def update(k: String, x: Double): Unit = v(k) = x
}

final class BatchBench(o: PassBench.Opts, rep: Report) {
  import PassBench._
  private val w = o.workload
  /** The feed is staged in set-up: enough landings for one pass per
    * 1/4 s of the timed region, well above the pass rate measured here.
    */
  private val landings = w.warm + math.max(MinPasses, math.ceil(o.seconds * 4).toInt) + 1
  private val passLines = mutable.LinkedHashMap.empty[Int, Seq[String]]
  private val failedPasses = mutable.Set.empty[Int]

  def run(): Unit = {
    val setupS = mutable.ArrayBuffer.empty[Double]
    var st: BatchSetup = null
    val reps = if (o.trace) 1 else SetupReps
    for (r <- 0 until reps) {
      val t = System.nanoTime()
      if (st != null) { st.spark.stop(); deleteTree(o.work.resolve(s"rep${r - 1}")) }
      passLines.clear()
      val s = new BatchSetup(session(), w, o.seed, o.work.resolve(s"rep$r"), landings)
      // the traced run warms up both twins in its own loop
      if (!o.trace) for (j <- 0 until w.warm) {
        if (s.refreshDue(j)) s.timedRefresh(s.watchlist.refresh())
        s.land(s.landing(j))
        passLines(j) = s.passA(j)._2
      }
      st = s
      setupS += (System.nanoTime() - t) / 1e9
    }
    if (o.trace) traced(st) else timed(st, setupS.toSeq)
  }

  private def timed(s: BatchSetup, setupS: Seq[Double]): Unit = {
    val smp = new Samples
    val t0 = System.nanoTime()
    var refreshNs = 0L
    var j = w.warm
    def elapsed = (System.nanoTime() - t0) / 1e9
    while ((elapsed < o.seconds || j - w.warm < MinPasses) && j < landings) {
      if (s.refreshDue(j)) {
        val r = System.nanoTime()
        s.timedRefresh(s.watchlist.refresh())
        refreshNs += System.nanoTime() - r
      }
      val p = s.landing(j)
      s.land(p)
      rep.attempted += 1
      try {
        val (_, lines, sec) = s.passA(j)
        smp.latS += sec
        passLines(j) = lines
      } catch { case e: Exception =>
        rep.failed += 1; failedPasses += j
        rep.note(s"pass $j threw $e")
      }
      smp.rows += w.landRows
      j += 1
    }
    smp.wallNs = System.nanoTime() - t0 - refreshNs
    if (j >= landings && elapsed < o.seconds) rep.note("feed exhausted before --seconds")
    val heap = heapMb()
    val tracked = s.sched.dedup.trackedKeys
    smp.endToEnd(rep, setupS)
    rep.put("heap_mb", heap)
    check(s, j, Map.empty)
    rep.note(s"tracked_keys $tracked; watchlist refreshes ${s.refreshS.size}")
  }

  /** Checks every pass's sink lines against the independent model and
    * records the feed fingerprint of the fixed prefix.
    */
  private def check(s: BatchSetup, end: Int, twin: Map[Int, Seq[String]]): Unit = {
    val rows = s.layout.filter(p => p.landing < end).map(p => p -> w.gen(o.seed, p)).toMap
    require(rows.forall { case (p, r) => p.landing < 0 || r.n == w.landRows }, "landing size")
    val fixed = s.layout.filter(_.landing < w.warm + MinPasses).sortBy(_.id)
    rep.note(s"feed_fingerprint ${Fingerprint.of(fixed.map(p => p -> rows(p)))} parts ${fixed.size}")
    rep.note("landing_rows " + fixed.filter(_.landing >= 0).map(p => rows(p).n).mkString(","))
    val chk = new BatchChecker(s.config.limitNewData, s.config.limitNewDataNet,
      s.config.quotientAmplification.toDouble, s.config.limitDetectTimeSec.toLong,
      w.watchlist(o.seed).toSet)
    val emitted = mutable.ArrayBuffer.empty[Int]
    for (j <- 0 until end) {
      val now = Workloads.batchNow(w, j)
      val horizon = Set(Workloads.levelDir(now), Workloads.levelDir(now - 3600))
      val files = s.layout.filter(p => horizon(p.dir) && p.landing <= j).map(rows)
      val want = chk.pass(now, files).sorted
      val got = passLines.get(j).map(_.sorted)
      val twinOk = twin.get(j).forall(t => got.contains(t.sorted))
      if (!got.contains(want) || !twinOk) {
        if (!failedPasses(j)) {
          rep.correct = false
          if (j >= w.warm) { rep.failed += 1; failedPasses += j }
          rep.note(s"pass $j: sink output differs from the checker " +
            s"(got ${got.map(_.size)}, want ${want.size}, twin ok $twinOk)")
        }
      }
      if (j >= w.warm && j < w.warm + MinPasses) emitted += want.size
    }
    if (failedPasses.nonEmpty) rep.correct = false
    rep.note("emitted_per_pass " + emitted.mkString(","))
  }

  /** Traced run: each pass runs untraced (`runOnce`) and as a traced
    * twin from the same public calls, in alternating order; the twin's
    * sink output must equal the untraced one.
    */
  private def traced(s: BatchSetup): Unit = {
    val spark = s.spark
    val probe = new Probe(spark)
    val spans = new Spans
    val msBase = System.currentTimeMillis(); val nsBase = System.nanoTime()
    def nsOf(ms: Long) = nsBase + (ms - msBase) * 1000000L
    var nowB = 0L
    val src = new HourlyParquetSource(spark, s.feedDir.toString, clock = () => nowB)
    val dedup = new AlertDedup(s.config.limitDetectTimeSec.toLong)
    val twlist = new TimedWatchlist(s.watchlist)
    val linesB = mutable.ArrayBuffer.empty[String]
    val sink = new CountingSink(new LogRuleSink(linesB += _))
    val twinLines = mutable.LinkedHashMap.empty[Int, Seq[String]]
    val samples = mutable.ArrayBuffer.empty[LayerSample]
    val latA, latB = mutable.ArrayBuffer.empty[Double]

    def passB(j: Int): LayerSample = {
      nowB = Workloads.batchNow(w, j)
      val ls = new LayerSample
      val from = linesB.size
      twlist.lookups = 0; twlist.ns = 0; sink.emits = 0
      var qe: org.apache.spark.sql.execution.QueryExecution = null
      var alertsIn, alertsOut = 0
      val root = spans.buf.size
      probe.attach()
      spans("pass", j) {
        spans("discover", j)(src.existingPaths(2))
        val hist = spans("read", j)(src.read(2))
        hist.foreach { h =>
          val out = spans("build", j) {
            SpikeDetector.detectFused(h,
              currentPredicate = col("timestamp") > nowB - 90L,
              previousPredicate = col("timestamp") < nowB - 300L,
              params = s.config.spikeParams)
          }
          qe = out.queryExecution
          val alerts = spans("collect", j) {
            out.collect().toSeq.map(r => Alert(r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
          }
          val passed = spans("dedup", j) {
            val t = System.nanoTime()
            val p = dedup.process(alerts, twlist.contains, nowB)
            spans.add("watchlist", j, spans.current, t, t + twlist.ns)
            p
          }
          spans("sink", j)(passed.foreach(sink.emit))
          alertsIn = alerts.size; alertsOut = passed.size
        }
      }
      val c = probe.fence()
      probe.detach()
      twinLines(j) = linesB.drop(from).toSeq

      // engine jobs as children of the driver span they ran in
      def span(name: String) = (root until spans.buf.size).find(i => spans.buf(i).name == name)
      val hosted = c.jobSpans.toSeq.flatMap { case (a, b) =>
        val (s0, e0) = (nsOf(a), nsOf(b))
        val mid = (s0 + e0) / 2
        Seq("read", "collect").flatMap(span)
          .find(i => spans.buf(i).startNs <= mid && mid <= spans.buf(i).endNs)
          .map(i => (i, s0, e0))
      }
      // in collect: the scan + partial aggregate job, the /24 roll-up
      // job(s), and last the result job
      val inCollect = hosted.filter(h => spans.buf(h._1).name == "collect").sortBy(_._2)
      for ((i, s0, e0) <- hosted) {
        val sp = spans.buf(i)
        val name =
          if (sp.name == "read") "engine.listing"
          else if (inCollect.last._3 == e0) "engine.result"
          else if (inCollect.head._2 == s0) "engine.scan_aggregate" else "engine.rollup"
        spans.add(name, j, i, math.max(s0, sp.startNs), math.min(e0, sp.endNs))
      }
      val self = spans.selfNs
      def selfOf(pred: String => Boolean) =
        (root until spans.buf.size).filter(i => pred(spans.buf(i).name)).map(self).sum / 1e9
      def durOf(n: String) = span(n).map(i => spans.buf(i).durNs / 1e9).getOrElse(0.0)
      val wall = spans.buf(root).durNs / 1e9

      val nodes = if (qe != null && probe.sawPlan(qe)) PlanMetrics.nodes(qe.executedPlan).toSeq else Nil
      val scans = nodes.collect { case x: FileSourceScanExec => x }
      val aggs = nodes.collect { case x: HashAggregateExec => x }
      val fusedAgg = aggs.find(a => a.aggregateExpressions.forall(_.mode == Final) &&
        a.groupingExpressions.map(_.toAttribute.name) == Seq("num_protocol", "type_proto", "dst_ip"))

      ls("sources.discover_s") = durOf("discover")
      ls("sources.read_s") = durOf("read")
      ls("sources.files_read") = scans.map(PlanMetrics.metric(_, "numFiles")).sum
      ls("sources.rows_read") = scans.map(PlanMetrics.metric(_, "numOutputRows")).sum
      ls("sources.bytes_read") = scans.map(PlanMetrics.metric(_, "filesSize")).sum
      ls("sources.scan_s") = scans.map(PlanMetrics.metric(_, "scanTime")).sum / 1e3
      ls("detect.build_s") = durOf("build")
      ls("detect.collect_s") = durOf("collect")
      ls("detect.agg_rows_out") = fusedAgg.map(PlanMetrics.metric(_, "numOutputRows")).getOrElse(0L).toDouble
      ls("detect.agg_s") = aggs.map(PlanMetrics.metric(_, "aggTime")).sum / 1e3
      ls("detect.shuffle_bytes") = c.shuffleBytes
      ls("detect.spill_bytes") = c.spillBytes
      ls("detect.gc_s") = c.gcMs / 1e3
      ls("detect.task_run_s") = c.runMs / 1e3
      ls("detect.task_cpu_s") = c.cpuNs / 1e9
      ls("detect.task_skew") = c.skew
      ls("detect.jobs") = c.jobs
      ls("detect.stages") = c.stages
      ls("detect.tasks") = c.tasks
      ls("detect.sched_delay_s") = c.schedDelayMs / 1e3
      ls("detect.alerts_raw") = alertsIn
      ls("detect.result_bytes") = c.resultBytes
      ls("dedup.process_s") = selfOf(_ == "dedup")
      ls("dedup.alerts_in") = alertsIn
      ls("dedup.alerts_out") = alertsOut
      ls("dedup.pass_ratio") = if (alertsIn == 0) 0.0 else alertsOut.toDouble / alertsIn
      ls("dedup.tracked_keys") = dedup.trackedKeys
      ls("watchlist.lookups") = twlist.lookups
      ls("watchlist.lookup_s") = twlist.ns / 1e9
      ls("watchlist.size") = s.watchlist.current.size
      ls("sink.emits") = sink.emits
      ls("sink.emit_s") = durOf("sink")
      ls("layer.sources") = selfOf(n => n == "discover" || n == "read" || n == "engine.listing") / wall
      ls("layer.scan_aggregate") = selfOf(_ == "engine.scan_aggregate") / wall
      ls("layer.rollup") = selfOf(_ == "engine.rollup") / wall
      ls("layer.collect") = selfOf(n => n == "collect" || n == "engine.result") / wall
      ls("layer.reference") = selfOf(n => n == "build" || n == "dedup") / wall
      ls("layer.app") = selfOf(n => n == "watchlist" || n == "sink") / wall
      ls("pass_s") = wall
      ls
    }

    var t0 = 0L
    var j = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (j < w.warm || ((elapsed < o.seconds || j - w.warm < MinPasses) && j < landings)) {
      if (j == w.warm) t0 = System.nanoTime()
      if (s.refreshDue(j)) s.timedRefresh(s.watchlist.refresh())
      s.land(s.landing(j))
      if (j >= w.warm) rep.attempted += 1
      try {
        def a(): Unit = {
          val (_, l, sec) = s.passA(j)
          passLines(j) = l
          if (j >= w.warm) latA += sec
        }
        def b(): Unit = {
          val x = passB(j)
          if (j >= w.warm) { latB += x.v("pass_s"); samples += x }
        }
        if (j % 2 == 0) { a(); b() } else { b(); a() }
      } catch { case e: Exception =>
        if (j >= w.warm) { rep.failed += 1; failedPasses += j } else rep.correct = false
        rep.note(s"pass $j threw $e")
      }
      j += 1
    }
    check(s, j, twinLines.toMap)

    val fixed = samples.take(MinPasses)
    def med(k: String, xs: Seq[LayerSample]) = median(xs.map(_.v(k)))
    val counters = Seq("sources.files_read", "sources.rows_read", "sources.bytes_read",
      "detect.agg_rows_out", "detect.jobs", "detect.stages", "detect.tasks", "detect.alerts_raw",
      "dedup.alerts_in", "dedup.alerts_out", "dedup.tracked_keys", "watchlist.lookups",
      "watchlist.size", "sink.emits")
    val layers = samples.head.v.keys.filter(_.startsWith("layer.")).toSeq
    for (k <- samples.head.v.keys if k != "pass_s")
      rep.put(k, med(k, if (counters.contains(k)) fixed.toSeq else samples.toSeq))
    rep.put("watchlist.refresh_s", median(s.refreshS.toSeq))
    rep.put("scheduler.trace_coverage", median(samples.map(x => layers.map(x.v).sum).toSeq))
    rep.put("scheduler.trace_overhead", median(latB.toSeq) / median(latA.toSeq) - 1)
    rep.note("deterministic_counters " + counters.map(k => s"$k=${fixed.map(_.v(k).toLong).mkString("/")}").mkString(" "))
    // the layer groups the workloads are meant to load
    val groups = Seq[(String, LayerSample => Double)](
      "sources+scan_aggregate" -> (x => x.v("layer.sources") + x.v("layer.scan_aggregate")),
      "rollup" -> (x => x.v("layer.rollup")),
      "collect+dedup+watchlist+sink" ->
        (x => x.v("layer.collect") + x.v("layer.app") + x.v("dedup.process_s") / x.v("pass_s")),
      "build" -> (x => x.v("detect.build_s") / x.v("pass_s")))
    val shares = groups.map { case (n, f) => n -> median(samples.map(f).toSeq) }
    rep.note(s"dominant_layer ${shares.maxBy(_._2)._1} " +
      shares.map { case (n, v) => f"$n=$v%.3f" }.mkString(" ") + " " +
      layers.map(k => f"$k=${med(k, samples.toSeq)}%.3f").mkString(" "))
    rep.note(f"dedup.pass_ratio base: dedup.alerts_in median ${med("dedup.alerts_in", samples.toSeq)}%.0f")
    rep.note(f"trace_overhead: traced p50 ${median(latB.toSeq)}%.4f s vs untraced p50 ${median(latA.toSeq)}%.4f s")
    val out = o.work.resolve("spans.jsonl")
    Files.write(out, spans.toJsonLines.toSeq.mkString("", "\n", "\n").getBytes("UTF-8"))
    rep.note(s"spans ${spans.buf.size} written to ${o.work.getFileName}/spans.jsonl")
  }
}
