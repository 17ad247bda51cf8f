package graft.app

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftSqlBridge
import graft.reference.{Alert, AlertDedup, SpikeDetector}
import graft.sources.{DataFile, HourlyParquetSource}

/** Batch scheduler loop — the reference's `main` (hha.py:315–327)
  * wired to the Spark-native operators: each pass runs the spike
  * pipeline over the last two hourly files and the open-ended windows
  * (current: ts > now−90; previous: ts < now−300 — the `endTime`s
  * are dead in the reference and stay dead here), collects the alert
  * frame, and pushes it through TTL dedup → watch-list → rule sink.
  *
  * The pass is incremental over sealed files. A data file is sealed
  * when its footer's max `timestamp` is below now−300: all its rows
  * are in the previous window, and stay there, because `now` only
  * grows. Each sealed file is folded once into its hour's accumulator
  * of exact per-key partials (`SpikeDetector.mergePartials`), on the
  * first pass that seals it after a pass has listed it unchanged (the
  * scheduler's first pass, which runs once per process, folds at
  * once); a pass reads the other files in one plain scan and skips
  * dead ones (whole footer range inside [now−300, now−90], so in
  * neither window). The accumulators are lazily local-checkpointed
  * inside the pass job, so plans do not grow pass by pass. Alerts
  * equal `detectFused` over `source.read(2)` on every pass.
  *
  * The gain needs landed part files that are appended, not replaced:
  * a folded file is known by its (path, length, mtime) only, so a
  * feed must not rewrite a part in place with all three unchanged. An
  * hour whose folded files change or disappear (an overwrite-mode
  * rewrite, a compaction) drops its accumulator, and the pass reads
  * that hour in the plain scan, as it reads a part renamed on every
  * pass: neither pays for a checkpoint. The whole state is dropped
  * when the clock goes backwards and when a pass throws; an hour
  * leaving the two-file horizon takes its accumulator with it.
  *
  * Clock and iteration count are injectable (the reference's
  * `while True` + `time.time()` is untestable as written).
  */
final class SpikeScheduler(
    source: HourlyParquetSource,
    config: HhaConfig,
    watchlist: WatchlistProvider,
    sink: RuleSink,
    clock: () => Long = () => System.currentTimeMillis() / 1000,
    sleeper: Long => Unit = ms => Thread.sleep(ms)) {

  val dedup = new AlertDedup(config.limitDetectTimeSec.toLong)

  /** One hour file's folded data files and the partials of their rows. */
  private final case class HourState(folded: Set[DataFile], acc: DataFrame)

  private var state = Map.empty[String, HourState]
  /** Each hour's data files at the last pass; only these can be folded. */
  private var listed = Map.empty[String, Set[DataFile]]
  private var firstPass = true
  private var lastNow = Long.MinValue

  /** Data files folded into the incremental state (observability/tests). */
  def foldedFiles: Int = state.values.map(_.folded.size).sum

  /** One analysis pass (hha.py:318–325 + FiltrDataByInterval).
    * Returns the alerts that fired, for observability/tests.
    */
  def runOnce(): Seq[Alert] = {
    val now = clock()
    dedup.process(alertsAt(now), watchlist.contains, now)
      .map { a => sink.emit(a); a }
  }

  /** The raw alerts of a pass, before TTL dedup, in collect order (IP
    * branch first). Runs as one Spark job, or none when the horizon
    * holds no rows to read.
    */
  def passAlerts(): Seq[Alert] = alertsAt(clock())

  private def alertsAt(now: Long): Seq[Alert] =
    // alert sets are post-aggregation small; collect is the
    // reference's sink shape (hha.py:231) and stays cheap
    pass(now)(SpikeDetector.fromPartials(_, config.spikeParams).collect().toSeq
      .map(r => Alert(r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))))

  /** The merged per-key window partials a pass computes its alerts
    * from, collected instead: the state's exactness, which every
    * `SpikeParams` reads alike, for tests.
    */
  private[graft] def passPartials(): Seq[Row] = pass(clock())(_.collect().toSeq)

  /** Folds and scans the horizon at `now` into one frame of
    * `SpikeDetector.windowPartials`' schema and runs `finish` on it
    * with AQE off: the plan has no join, so AQE could only split its
    * one job into one job per stage.
    */
  private def pass[A](now: Long)(finish: DataFrame => Seq[A]): Seq[A] = {
    if (now < lastNow) drop(listed.keySet ++ state.keySet) // sealing holds only for a clock that grows
    lastNow = now
    val first = firstPass
    firstPass = false
    val cur = col("timestamp") > now - 90L
    val prev = col("timestamp") < now - 300L
    def sealedFile(f: DataFile) = f.tsRange.exists(_._2 < now - 300L)
    def deadFile(f: DataFile) =
      f.tsRange.exists { case (lo, hi) => lo >= now - 300L && hi <= now - 90L }
    var fresh = Map.empty[String, HourState]
    try {
      val hours = source.hourFiles(numberFiles = 2).toMap
      // an hour gone from the horizon, or with a folded file changed or gone
      drop(state.keySet.filterNot(h => hours.get(h).exists(fs => state(h).folded.subsetOf(fs.toSet))))
      val accs = hours.toSeq.flatMap { case (h, files) =>
        val old = state.get(h)
        val folded = old.fold(Set.empty[DataFile])(_.folded)
        val seen = listed.getOrElse(h, Set.empty[DataFile])
        val toFold = files.filter(f => sealedFile(f) && !folded(f) && (first || seen(f)))
        if (toFold.isEmpty) old.map(_.acc)
        else {
          val rows = SpikeDetector.rowPartials(source.readFiles(toFold), cur, prev)
          val acc = GraftSqlBridge.lazyLocalCheckpoint(
            SpikeDetector.mergePartials(old.map(_.acc).toSeq :+ rows: _*))
          fresh += h -> HourState(folded ++ toFold, acc)
          Some(acc)
        }
      }
      val inAcc = (state ++ fresh).values.flatMap(_.folded).toSet
      val plain = hours.values.flatten.filterNot(f => inAcc(f) || deadFile(f)).toSeq
      val parts = accs ++
        (if (plain.isEmpty) Nil else Seq(SpikeDetector.rowPartials(source.readFiles(plain), cur, prev)))
      val out =
        if (parts.isEmpty) Seq.empty // unreadable or empty hours — skip (hha.py:138–139)
        else {
          val merged = SpikeDetector.mergePartials(parts: _*)
          GraftSqlBridge.withoutAqe(merged.sparkSession)(finish(merged))
        }
      fresh.keys.foreach(h => state.get(h).foreach(o => GraftSqlBridge.releaseCheckpoint(o.acc)))
      state ++= fresh
      listed = hours.map { case (h, files) => h -> files.toSet }
      out
    } catch { case NonFatal(e) =>
      fresh.values.foreach(s => GraftSqlBridge.releaseCheckpoint(s.acc))
      drop(listed.keySet ++ state.keySet)
      throw e
    }
  }

  /** Forgets the folded and listed files of `hours`: one pass reads
    * them in the plain scan before any of them is folded again.
    */
  private def drop(hours: Set[String]): Unit = {
    hours.foreach(h => state.get(h).foreach(s => GraftSqlBridge.releaseCheckpoint(s.acc)))
    state --= hours
    listed --= hours
  }

  /** The loop: run, sleep `sleepInterval`, repeat (hha.py:317–327). A
    * pass that throws is logged and the loop goes on; the pass has
    * already dropped its incremental state, so the next one rebuilds it.
    */
  def run(iterations: Long = Long.MaxValue): Unit = {
    var i = 0L
    while (i < iterations) {
      try runOnce()
      catch { case NonFatal(e) => System.err.println(s"spike pass failed, continuing: $e") }
      i += 1
      if (i < iterations) sleeper(config.sleepInterval * 1000L)
    }
  }
}
