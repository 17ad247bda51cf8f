package perfbench

import java.util.concurrent.ConcurrentHashMap

/** The three workloads. Each is a pure function of the seed: the part
  * layout (which file lands where and when) and the rows of every part.
  *
  * Batch timeline: pass j runs at clock now(j) = first + 10·j (the
  * scheduler's sleepInterval, advanced without sleeping). Before pass j
  * the part holding event times [now(j)−10, now(j)) lands in the hour
  * directory of those rows. The first timed pass is `Warm`; the hour
  * rolls over at timed pass `RollAt`, so every run crosses one rollover
  * (including one pass whose newest hour file is still missing).
  */
sealed abstract class Workload(val name: String) extends Serializable {
  /** Untimed passes (or micro-batches) before the timed region. */
  def warm: Int
  def streaming: Boolean = false
  def layout(landings: Int): Seq[PartSpec]
  def gen(seed: Long, p: PartSpec): Rows
  /** Rows of every landed (not set-up) part. */
  def landRows: Int
  /** Watched IPv4 addresses, written to the watch-list file. */
  def watchlist(seed: Long): Array[Long]
  /** The deployment's TTL (hha.conf LimitDetectTimeSec). */
  def ttlSec: Int = 300
}

object Workloads {
  val H0: Long = 1800000000L // an hour boundary (500000·3600)
  val Step = 10L // sleepInterval of hha.conf
  val RollAt = 2

  val all: Seq[Workload] = Seq(HourlyScan, AlertStorm, StreamDetect)
  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(s"unknown workload $n"))

  private val pools = new ConcurrentHashMap[(Long, Int), KeyPool]()
  def pool(seed: Long, size: Int): KeyPool =
    pools.computeIfAbsent((seed, size), _ => new KeyPool(seed, size))

  def hourOf(t: Long): Long = Math.floorDiv(t, 3600L) * 3600L
  def levelDir(t: Long): String = s"level_${hourOf(t)}"

  /** Clock of batch pass j. */
  def batchNow(w: Workload, j: Int): Long = H0 + 3600L - Step * (w.warm + RollAt) + Step * j

  /** Batch layout: `prevParts` parts for the previous hour, `curParts`
    * parts spread over the current hour up to the first pass, then one
    * landing per pass.
    */
  def batchLayout(w: Workload, prevParts: Int, curParts: Int, landings: Int): Seq[PartSpec] = {
    val first = batchNow(w, 0) - Step
    val prev = (0 until prevParts).map { i =>
      val span = 3600L / prevParts
      PartSpec(i, s"level_${H0 - 3600}", H0 - 3600 + i * span, H0 - 3600 + (i + 1) * span, -1)
    }
    val cur = (0 until curParts).map { i =>
      val span = (first - H0) / curParts
      val t1 = if (i == curParts - 1) first else H0 + (i + 1) * span
      PartSpec(prevParts + i, s"level_$H0", H0 + i * span, t1, -1)
    }
    val land = (0 until landings).map { j =>
      val now = batchNow(w, j)
      PartSpec(prevParts + curParts + j, levelDir(now - Step), now - Step, now, j)
    }
    prev ++ cur ++ land
  }

  /** `n` rows of background traffic from `pool` over [p.t0, p.t1). */
  def background(b: Rows.Builder, pool: KeyPool, r: Rng, p: PartSpec, n: Int): Unit = {
    val span = p.t1 - p.t0
    var i = 0
    while (i < n) {
      val k = pool.draw(r)
      val t = p.t0 + (r.nextLong() >>> 1) % span
      b.add(t, 1L + r.nextInt(8), pool.proto(k), pool.pkt(k, r), pool.typ(k), pool.ip(k))
      i += 1
    }
  }

  /** `keys` uniformly chosen pool keys, each with `rows` rows at 8× its level. */
  def spikes(b: Rows.Builder, pool: KeyPool, r: Rng, p: PartSpec, keys: Int, rows: Int): Unit = {
    val span = p.t1 - p.t0
    var s = 0
    while (s < keys) {
      val k = r.nextInt(pool.size)
      var i = 0
      while (i < rows) {
        val t = p.t0 + (r.nextLong() >>> 1) % span
        b.add(t, 1L + r.nextInt(8), pool.proto(k), pool.level(k) * 8L, pool.typ(k), pool.ip(k))
        i += 1
      }
      s += 1
    }
  }
}

/** A large two-hour horizon that grows by one landed part per pass,
  * with few spikes and a small watch-list: the scan and the fused
  * aggregate do nearly all the work.
  */
object HourlyScan extends Workload("hourly_scan") {
  val warm = 2
  val PoolSize = 20000
  val PrevParts = 2
  val CurParts = 16
  val BaseRows = 20000
  val LandRows = 5000
  val SpikeKeys = 3
  val SpikeRows = 6

  def landRows: Int = LandRows + SpikeKeys * SpikeRows

  def layout(landings: Int): Seq[PartSpec] =
    Workloads.batchLayout(this, PrevParts, CurParts, landings)

  def gen(seed: Long, p: PartSpec): Rows = {
    val pool = Workloads.pool(seed, PoolSize)
    val r = Rng.of(seed, p.id.toLong, 0x68L)
    if (p.landing < 0) {
      val b = new Rows.Builder(BaseRows)
      Workloads.background(b, pool, r, p, BaseRows)
      b.result()
    } else {
      val b = new Rows.Builder(LandRows + SpikeKeys * SpikeRows)
      Workloads.background(b, pool, r, p, LandRows)
      Workloads.spikes(b, pool, r, p, SpikeKeys, SpikeRows)
      b.result()
    }
  }

  /** About one pool address in ten. */
  def watchlist(seed: Long): Array[Long] = {
    val pool = Workloads.pool(seed, PoolSize)
    (0 until PoolSize).filter(k => Rng.mix(seed ^ k) % 10 == 0).map(pool.ip).distinct.toArray
  }
}

/** Light background traffic plus a flood sweeping new destination IPs:
  * every landing brings `Attack` fresh addresses, which alert while they
  * stay in the 90 s current window and are suppressed by the TTL after
  * their first alert. The watch-list is 10⁶ contiguous addresses
  * covering the sweep, so collect, dedup, watch-list and sink do most
  * of the work.
  */
object AlertStorm extends Workload("alert_storm") {
  val warm = 2
  val PoolSize = 5000
  val BaseRows = 5000
  val BgRows = 2000
  val Attack = 10000
  val AttackRows = 1
  val SweepBase = 0xAC100000L // 172.16.0.0
  val WatchSize = 1000000
  /** Shorter than the default 300 s so that keys tracked early in a run
    * expire inside its timed region.
    */
  override val ttlSec = 120

  def landRows: Int = BgRows + Attack * AttackRows

  def layout(landings: Int): Seq[PartSpec] = Workloads.batchLayout(this, 1, 2, landings)

  def gen(seed: Long, p: PartSpec): Rows = {
    val pool = Workloads.pool(seed, PoolSize)
    val r = Rng.of(seed, p.id.toLong, 0x61L)
    if (p.landing < 0) {
      val b = new Rows.Builder(BaseRows)
      Workloads.background(b, pool, r, p, BaseRows)
      b.result()
    } else {
      val b = new Rows.Builder(BgRows + Attack * AttackRows)
      Workloads.background(b, pool, r, p, BgRows)
      val span = p.t1 - p.t0
      var a = 0
      while (a < Attack) {
        val ip = SweepBase + (p.landing.toLong * Attack + a) % WatchSize
        val typ = KeyPool.TypeProtos(r.nextInt(KeyPool.TypeProtos.length))
        var i = 0
        while (i < AttackRows) {
          b.add(p.t0 + (r.nextLong() >>> 1) % span, 1L + r.nextInt(8), 6,
            9000L + r.nextInt(6000), typ, ip)
          i += 1
        }
        a += 1
      }
      b.result()
    }
  }

  def watchlist(seed: Long): Array[Long] = Array.tabulate(WatchSize)(i => SweepBase + i)
}

/** The same kind of feed landed into one directory that a parquet file
  * stream reads into `StreamingDetect.detect`: one-minute tumbling
  * windows and a 35 s watermark delay, so windows close every six
  * landings and the state store writes on every micro-batch.
  */
object StreamDetect extends Workload("stream_detect") {
  val warm = 2
  override val streaming = true
  val PoolSize = 10000
  val LandRows = 8000
  val SpikeKeys = 4
  val SpikeRows = 6
  val WindowSec = 60L
  /** Not a multiple of 10, so the watermark never sits on a window edge. */
  val DelaySec = 35L

  def now(j: Int): Long = Workloads.H0 + Workloads.Step * (j + 1)

  def landRows: Int = LandRows + SpikeKeys * SpikeRows

  def layout(landings: Int): Seq[PartSpec] = (0 until landings).map { j =>
    PartSpec(j, "stream", now(j) - Workloads.Step, now(j), j)
  }

  def gen(seed: Long, p: PartSpec): Rows = {
    val pool = Workloads.pool(seed, PoolSize)
    val r = Rng.of(seed, p.id.toLong, 0x73L)
    val b = new Rows.Builder(LandRows + SpikeKeys * SpikeRows)
    Workloads.background(b, pool, r, p, LandRows)
    Workloads.spikes(b, pool, r, p, SpikeKeys, SpikeRows)
    b.result()
  }

  def watchlist(seed: Long): Array[Long] = Array.empty
}
