package graft.app

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{HistFiles, SparkTestSession}
import graft.reference.{Alert, AlertDedup, SpikeDetector}
import graft.sources.HourlyParquetSource

/** The incremental pass of [[SpikeScheduler]]: its deterministic cost
  * (Spark jobs and files scanned per steady-state pass, read from a
  * SparkListener and the scan nodes' file-count metric), the cost when
  * an hour's parts are replaced, and a loop that survives a failing
  * pass.
  */
class IncrementalPassSpec extends AnyFunSuite with SparkTestSession {

  private val Hour = 720000L // hour boundary x200
  private val Now = Hour + 1800L
  private val Spiking = 3232235777L // 192.168.1.1

  /** 20 rows per 10 s of event time: a steady key pool, plus a spike on
    * `Spiking` in files that start at or after `spikeFrom`.
    */
  private def part(t0: Long, spikeFrom: Long = Long.MaxValue): Seq[HistFiles.Row] =
    (0 until 20).map { i =>
      val ip = 174327451L + i % 5
      (t0 + i % 10, 1L, 6, 400L + i, 11, ip)
    } ++ (if (t0 >= spikeFrom) Seq((t0 + 5, 1L, 6, 9000L, 11, Spiking)) else Nil) :+
      ((t0 + 3, 1L, 6, 100L, 11, Spiking))

  private def land(dir: Path, t0: Long, spikeFrom: Long = Long.MaxValue): Path = {
    val hour = t0 / 3600 * 3600
    HistFiles.write(dir.resolve(s"level_$hour/part-$t0.parquet"), part(t0, spikeFrom))
  }

  private def fused(src: HourlyParquetSource, now: Long): Seq[Alert] =
    src.read(2).toSeq.flatMap(h => SpikeDetector.detectFused(h,
      col("timestamp") > now - 90L, col("timestamp") < now - 300L).collect().toSeq
      .map(r => Alert(r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))))

  private val watchAll = new WatchlistProvider {
    def current: Set[Long] = Set.empty
    override def contains(ip: Long): Boolean = true
  }

  /** Counts the jobs and collects the query executions of a body. A
    * fence job runs after it; listener events arrive in order on one
    * queue, so once the fence has ended every earlier event is in.
    */
  private final class Cost extends SparkListener with QueryExecutionListener {
    private val FenceKey = "graft.test.fence"
    val jobs = new AtomicLong
    private val fenceJobs = mutable.Set.empty[Int]
    @volatile private var fenced = false
    val plans = mutable.ArrayBuffer.empty[QueryExecution]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(FenceKey) != null)) fenceJobs += e.jobId
      else jobs.incrementAndGet()
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (fenceJobs(e.jobId)) fenced = true
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.synchronized(plans += qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

    def measure[A](body: => A): A = {
      val sc = spark.sparkContext
      sc.addSparkListener(this)
      spark.listenerManager.register(this)
      try {
        val out = body
        sc.setLocalProperty(FenceKey, "1")
        try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(FenceKey, null)
        val deadline = System.nanoTime() + 30000000000L
        while (!fenced && System.nanoTime() < deadline) Thread.sleep(5)
        assert(fenced, "listener bus did not deliver the fence job")
        out
      } finally {
        spark.listenerManager.unregister(this)
        sc.removeSparkListener(this)
      }
    }

    def filesScanned: Long = plans.synchronized(plans.toSeq).flatMap(_.executedPlan.collect {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }).sum
  }

  test("a steady-state pass runs one Spark job and scans only live and newly sealed files") {
    val dir = Files.createTempDirectory("cost")
    (0 until 4).foreach(i => land(dir, Hour - 3600 + i * 900)) // previous hour, sealed
    (0 until 40).foreach(i => land(dir, Now - 400 + 10 * i))    // [Now-400, Now), 10 s each
    var now = Now
    val src = new HourlyParquetSource(spark, dir.toString, clock = () => now)
    val sched = new SpikeScheduler(src, HhaConfig(), watchAll, new CollectingRuleSink,
      clock = () => now, sleeper = _ => ())
    // warm: the scheduler's first pass folds 4 + 10 sealed files at once
    assert(sched.passAlerts() === sched.passAlerts())
    assert(sched.foldedFiles === 14)

    for (step <- 1 to 2) {
      land(dir, now, spikeFrom = Now)
      now += 10
      val cost = new Cost
      val alerts = cost.measure(sched.passAlerts())
      // at now: sealed ⇔ max ts < now-300 (one more file per 10 s step);
      // dead ⇔ [min, max] ⊆ [now-300, now-90]; live = the other 9 files
      assert(cost.jobs.get === 1, s"step $step")
      assert(cost.filesScanned === 1 + 9, s"step $step")
      assert(sched.foldedFiles === 14 + step)
      assert(alerts.sortBy(_.toString) === fused(src, now).sortBy(_.toString))
      assert(alerts.exists(_.dstIp == Spiking))
    }
  }

  test("replaced parts drop only their hour's accumulator; that hour is read in the plain scan") {
    val dir = Files.createTempDirectory("replaced")
    (0 until 4).foreach(i => land(dir, Hour - 3600 + i * 900))
    (0 until 40).foreach(i => land(dir, Now - 400 + 10 * i, spikeFrom = Now - 80))
    var now = Now
    val src = new HourlyParquetSource(spark, dir.toString, clock = () => now)
    val sched = new SpikeScheduler(src, HhaConfig(), watchAll, new CollectingRuleSink,
      clock = () => now, sleeper = _ => ())
    sched.passAlerts(); sched.passAlerts()
    assert(sched.foldedFiles === 14)

    // an overwrite-mode rewrite of the current hour: same rows, new part names
    val cur = dir.resolve(s"level_$Hour")
    Files.list(cur).toArray.map(_.asInstanceOf[Path]).foreach(f =>
      Files.move(f, cur.resolve("r-" + f.getFileName)))
    for (step <- 1 to 2) {
      now += 10
      val cost = new Cost
      val alerts = cost.measure(sched.passAlerts())
      assert(cost.jobs.get === 1, s"step $step")
      assert(alerts.sortBy(_.toString) === fused(src, now).sortBy(_.toString))
      assert(alerts.exists(_.dstIp == Spiking))
      if (step == 1) {
        // the previous hour keeps its 4 files; the current hour's 11
        // sealed and 8 live files are scanned plain, nothing is folded
        assert(sched.foldedFiles === 4)
        assert(cost.filesScanned === 11 + 8)
      } else {
        // the pass after folds the current hour's 12 sealed files again
        assert(sched.foldedFiles === 4 + 12)
        assert(cost.filesScanned === 12 + 7)
      }
    }
  }

  test("a failing pass does not end the loop; the next pass alerts like detectFused") {
    val dir = Files.createTempDirectory("corrupt")
    (0 until 40).foreach(i => land(dir, Now - 400 + 10 * i))
    val bad = dir.resolve(s"level_$Hour/part-corrupt.parquet")
    var now = Now - 20
    val src = new HourlyParquetSource(spark, dir.toString, clock = () => now)
    val sink = new CollectingRuleSink
    var repaired = false
    val sched = new SpikeScheduler(src, HhaConfig(), watchAll, sink, clock = () => now,
      sleeper = _ => { // between the two passes: the file is replaced and time moves on
        HistFiles.write(bad, part(now - 5, spikeFrom = 0L))
        now += 10
        repaired = true
      })
    // healthy passes first, so there is state to drop: 8 files sealed
    // at Now-20, one more at Now-10
    sched.passAlerts()
    now += 10
    sched.passAlerts()
    assert(sched.foldedFiles === 9)
    now += 10
    Files.write(bad, "not a parquet file".getBytes("UTF-8"))

    val e = intercept[Exception](sched.passAlerts())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(chain.contains("part-corrupt.parquet"), chain)
    assert(sched.foldedFiles === 0)

    sched.run(2) // pass 1 fails again and is contained; pass 2 runs on the repaired file
    assert(repaired)
    val want = new AlertDedup(HhaConfig().limitDetectTimeSec.toLong)
      .process(fused(src, now), _ => true, now)
    assert(want.exists(_.dstIp == Spiking))
    assert(sink.alerts === want)
  }
}
