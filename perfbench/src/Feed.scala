package perfbench

import java.security.MessageDigest

/** SplitMix64: a small, fast, seedable generator. Every draw of the
  * feed is a pure function of (seed, stream id), so the same seed gives
  * the same rows no matter which thread or task generates them.
  */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    Rng.mix(s)
  }
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = ((nextLong() >>> 33) % n).toInt
}

object Rng {
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def of(parts: Long*): Rng = new Rng(parts.foldLeft(0x2545F4914F6CDD1DL)((h, p) => mix(h ^ p)))
}

/** Columnar rows of one part file, in the reference schema. */
final class Rows(
    val ts: Array[Long], val sub: Array[Long], val proto: Array[Int],
    val pkt: Array[Long], val typ: Array[Int], val ip: Array[Long]) {
  def n: Int = ts.length
}

object Rows {
  final class Builder(cap: Int) {
    private val ts = new Array[Long](cap); private val sub = new Array[Long](cap)
    private val proto = new Array[Int](cap); private val pkt = new Array[Long](cap)
    private val typ = new Array[Int](cap); private val ip = new Array[Long](cap)
    private var i = 0
    def add(t: Long, s: Long, p: Int, c: Long, ty: Int, a: Long): Unit = {
      ts(i) = t; sub(i) = s; proto(i) = p; pkt(i) = c; typ(i) = ty; ip(i) = a; i += 1
    }
    def result(): Rows =
      new Rows(java.util.Arrays.copyOf(ts, i), java.util.Arrays.copyOf(sub, i),
        java.util.Arrays.copyOf(proto, i), java.util.Arrays.copyOf(pkt, i),
        java.util.Arrays.copyOf(typ, i), java.util.Arrays.copyOf(ip, i))
  }
}

/** A bounded, skewed pool of flow keys (num_protocol, type_proto,
  * dst_ip), each with its own typical packet count. Keys are drawn with
  * density ∝ k^-1/2, so hot keys repeat many times within an hour as
  * they do in real flow histograms. IPs cluster in /24 networks (about
  * six per network), and host byte 0 occurs, so the host-versus-/24
  * collision of the two detector branches can arise.
  */
final class KeyPool(seed: Long, val size: Int) extends Serializable {
  import KeyPool._
  private val nets = math.max(1, size / 6)
  val proto: Array[Int] = new Array[Int](size)
  val typ: Array[Int] = new Array[Int](size)
  val ip: Array[Long] = new Array[Long](size)
  val level: Array[Int] = new Array[Int](size)
  locally {
    val r = Rng.of(seed, 0x6B6579L)
    val netBase = Array.fill(nets)(0x0A000000L | ((r.nextLong() >>> 40) & 0xFFFF00L))
    var k = 0
    while (k < size) {
      proto(k) = Protocols(r.nextInt(Protocols.length))
      typ(k) = TypeProtos(r.nextInt(TypeProtos.length))
      ip(k) = netBase(r.nextInt(nets)) | r.nextInt(256)
      level(k) = 20 + r.nextInt(1500)
      k += 1
    }
  }
  /** Skewed key draw. */
  def draw(r: Rng): Int = {
    val u = r.nextDouble()
    math.min(size - 1, (size * u * u).toInt)
  }
  /** A normal packet count for key k: its level ±30 %. */
  def pkt(k: Int, r: Rng): Long = math.max(1L, (level(k) * (0.7 + 0.6 * r.nextDouble())).toLong)
}

object KeyPool {
  val Protocols: Array[Int] = Array(6, 17, 1, 47)
  val TypeProtos: Array[Int] = Array(11, 31, 32, 41, 42)
}

/** One part file of the feed: where it lands and the event-time range
  * [t0, t1) of its rows. `landing` is -1 for parts placed during set-up.
  */
final case class PartSpec(id: Int, dir: String, t0: Long, t1: Long, landing: Int)

/** Content hash and per-landing row counts of the landed feed. */
object Fingerprint {
  def of(parts: Seq[(PartSpec, Rows)]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(40)
    parts.foreach { case (p, r) =>
      md.update(s"${p.id}:${p.dir}:${p.t0}:${p.t1}".getBytes("UTF-8"))
      var i = 0
      while (i < r.n) {
        buf.clear()
        buf.putLong(r.ts(i)).putLong(r.sub(i)).putInt(r.proto(i)).putLong(r.pkt(i))
          .putInt(r.typ(i)).putInt((r.ip(i) & 0xFFFFFFFFL).toInt)
        md.update(buf.array(), 0, buf.position())
        i += 1
      }
    }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }
}
