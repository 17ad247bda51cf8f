package graft.reference

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.{HistFiles, SparkTestSession}
import graft.app.{CollectingRuleSink, HhaConfig, SpikeScheduler, StaticWatchlist}
import graft.sources.HourlyParquetSource

/** The incremental pass of `SpikeScheduler` against the full one: over
  * random pass sequences, every pass's merged window partials equal
  * `windowPartials` over `read(2)`, and its alerts equal `detectFused`
  * over `read(2)` — for the scheduler's own (default) parameters
  * through `passAlerts`, and for the weighted /24 roll-up and new-key
  * alerting at the limit through `fromPartials` over those partials.
  *
  * A sequence mixes landings (fresh, live, dead and already-sealed
  * event-time ranges, into the current or the previous hour), hour
  * rollovers (including passes whose newest hour has no file yet),
  * rewritten and deleted files, and clock regressions. A rewrite
  * changes the file's length: a folded file is known by (path, length,
  * mtime), and a rewrite within the filesystem's mtime granularity
  * moves only the length.
  */
object IncrementalPassProperties extends Properties("IncrementalPass") with SparkTestSession {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8) // each step runs eight Spark jobs

  private val OtherParams = Seq(
    SpikeParams(weightedNetRollup = true),
    SpikeParams(newKeyAlertAtLimit = true))

  private val Start = 720000L + 3000L // 600 s before an hour boundary

  sealed trait FileOp
  final case class Land(prevHour: Boolean, lo: Int, span: Int, rows: Seq[(Int, Int, Long)]) extends FileOp
  final case class Rewrite(pick: Int, land: Land) extends FileOp
  final case class Delete(pick: Int) extends FileOp
  /** One step: move the clock by `dt` seconds (negative: a regression),
    * apply `op` to the files, then run a pass.
    */
  final case class Step(dt: Int, op: Option[FileOp])

  // (key index, row offset within the file's range, CountPkt); the four
  // addresses sit in two /24s, one of them on its network address
  private val rowGen: Gen[(Int, Int, Long)] = for {
    k <- Gen.choose(0, 7)
    off <- Gen.choose(0, 1000)
    pkt <- Gen.frequency(3 -> Gen.choose(1L, 200L), 2 -> Gen.choose(200L, 3000L),
      1 -> Gen.choose(3000L, 12000L))
  } yield (k, off, pkt)

  private val landGen: Gen[Land] = for {
    prevHour <- Gen.frequency(4 -> false, 1 -> true)
    lo <- Gen.oneOf(Gen.choose(-700, -310), Gen.choose(-300, -100), Gen.choose(-120, 30))
    span <- Gen.oneOf(Gen.const(0), Gen.choose(1, 20), Gen.choose(20, 400))
    rows <- Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, rowGen))
  } yield Land(prevHour, lo, span, rows)

  private val stepGen: Gen[Step] = for {
    dt <- Gen.frequency(6 -> Gen.choose(0, 120), 2 -> Gen.choose(120, 400), 1 -> Gen.choose(-400, -1))
    op <- Gen.frequency(
      5 -> landGen.map(Some(_)),
      1 -> Gen.zip(Gen.choose(0, 1000), landGen).map { case (i, l) => Some(Rewrite(i, l)) },
      1 -> Gen.choose(0, 1000).map(i => Some(Delete(i))),
      1 -> Gen.const(None))
  } yield Step(dt, op)

  private val seqGen: Gen[(Seq[Land], Seq[Step])] = for {
    base <- Gen.choose(2, 5).flatMap(n => Gen.listOfN(n, landGen))
    steps <- Gen.choose(5, 9).flatMap(n => Gen.listOfN(n, stepGen))
  } yield (base, steps)

  private def histRows(now: Long, l: Land): Seq[HistFiles.Row] = l.rows.map { case (k, off, pkt) =>
    val ip = 3232235776L + (k % 2) * 256L + (k / 2 % 2) // 192.168.1.0/1, 192.168.2.0/1
    (now + l.lo + (if (l.span == 0) 0 else off % (l.span + 1)), 1L, 6 + k / 4, pkt, 11, ip)
  }

  property("every incremental pass alerts exactly like detectFused over read(2)") =
    Prop.forAllNoShrink(seqGen) { case (base, steps) =>
      val dir = Files.createTempDirectory("incr")
      var now = Start
      var files = Vector.empty[Path]
      var n = 0
      def land(l: Land): Path = {
        val hour = now / 3600 * 3600 - (if (l.prevHour) 3600 else 0)
        n += 1
        HistFiles.write(dir.resolve(s"level_$hour/part-$n.parquet"), histRows(now, l))
      }
      base.foreach(l => files :+= land(l))
      val src = new HourlyParquetSource(spark, dir.toString, clock = () => now)
      // two schedulers over the same files: their states evolve alike
      def sched() = new SpikeScheduler(src, HhaConfig(), new StaticWatchlist(Set.empty),
        new CollectingRuleSink, clock = () => now, sleeper = _ => ())
      val (byAlerts, byPartials) = (sched(), sched())

      var alerting = 0
      def pass(): Boolean = {
        val hist = src.read(2)
        val (cur, prev) = (col("timestamp") > now - 90L, col("timestamp") < now - 300L)
        def alerts(df: DataFrame) = df.collect().toSeq
          .map(r => Alert(r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))).sortBy(_.toString)
        def fused(p: SpikeParams) = hist.toSeq.flatMap(h => alerts(SpikeDetector.detectFused(h, cur, prev, p)))
        val want = fused(SpikeParams())
        if (want.nonEmpty) alerting += 1
        val partials = byPartials.passPartials()
        val wantPartials = hist.toSeq.flatMap(SpikeDetector.windowPartials(_, cur, prev).collect().toSeq)
        byAlerts.passAlerts().sortBy(_.toString) == want &&
          partials.map(_.toString).sorted == wantPartials.map(_.toString).sorted &&
          hist.forall { h =>
            val incr = spark.createDataFrame(partials.asJava,
              SpikeDetector.windowPartials(h, cur, prev).schema)
            OtherParams.forall(p => alerts(SpikeDetector.fromPartials(incr, p)) == fused(p))
          }
      }

      val agree = pass() && steps.forall { s =>
        now += s.dt
        s.op.foreach {
          case l: Land => files :+= land(l)
          case Rewrite(i, l) if files.nonEmpty =>
            val f = files(i % files.size)
            val was = Files.size(f)
            // repeat a row until the length moves
            Iterator.iterate(histRows(now, l))(rs => rs :+ rs.head)
              .find(rs => Files.size(HistFiles.write(f, rs)) != was)
          case Delete(i) if files.nonEmpty =>
            val f = files(i % files.size)
            Files.delete(f)
            files = files.filterNot(_ == f)
          case _ => ()
        }
        pass()
      }
      Prop.classify(alerting > 0, "alerting", "quiet")(agree)
    }
}
