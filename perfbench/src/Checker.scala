package perfbench

import scala.collection.mutable

/** Independent model of the batch pass, in plain Scala (no Spark), used
  * to check the sink output of every pass. It re-derives the reference
  * semantics from the rows:
  *   - windows: current = ts > now−90, previous = ts < now−300;
  *   - truncating averages per (num_protocol, type_proto, dst_ip);
  *   - the /24 roll-up averages the truncated per-IP averages;
  *   - per-IP baseline clamp needs ratio > q AND prev > limit; per-net
  *     needs the ratio only; a missing previous value is the limit;
  *   - all per-IP alerts come before all per-net alerts, which decides
  *     the host x.y.z.0 versus /24 collision in the dedup;
  *   - the TTL sweep runs before each batch, then untracked watched
  *     keys pass and are stamped.
  */
final class BatchChecker(limit: Int, limitNet: Int, quotient: Double, ttlSec: Long,
                         watch: Set[Long]) {
  private val seen = mutable.LongMap.empty[Long]

  private def key(p: Int, t: Int, ip: Long): Long = (p.toLong << 40) | (t.toLong << 32) | ip

  /** Sink lines for one pass over the rows of every file in the horizon. */
  def pass(now: Long, files: Seq[Rows]): Seq[String] = {
    val idx = mutable.LongMap.empty[Int]
    val cs, cc, ps, pc = mutable.ArrayBuffer.empty[Long]
    val keys = mutable.ArrayBuffer.empty[Long]
    for (r <- files; i <- 0 until r.n) {
      val t = r.ts(i)
      val cur = t > now - 90
      val prev = t < now - 300
      if (cur || prev) {
        val k = key(r.proto(i), r.typ(i), r.ip(i))
        val j = idx.getOrElseUpdate(k, { keys += k; cs += 0; cc += 0; ps += 0; pc += 0; keys.size - 1 })
        if (cur) { cs(j) += r.pkt(i); cc(j) += 1 }
        if (prev) { ps(j) += r.pkt(i); pc(j) += 1 }
      }
    }
    def avg(s: Long, c: Long): Int = (s.toDouble / c).toInt
    val out = mutable.ArrayBuffer.empty[(Int, Int, Int, Long)]
    // per-IP branch
    val netCur = mutable.LongMap.empty[(Long, Long)]
    val netPrev = mutable.LongMap.empty[(Long, Long)]
    for (j <- keys.indices) {
      val k = keys(j)
      val proto = (k >>> 40).toInt; val typ = ((k >>> 32) & 0xFF).toInt; val ip = k & 0xFFFFFFFFL
      val nk = key(proto, typ, ip & 0xFFFFFF00L)
      val p = if (pc(j) > 0) Some(avg(ps(j), pc(j))) else None
      p.foreach { v => val (s, c) = netPrev.getOrElse(nk, (0L, 0L)); netPrev(nk) = (s + v, c + 1) }
      if (cc(j) > 0) {
        val c = avg(cs(j), cc(j))
        val (s0, c0) = netCur.getOrElse(nk, (0L, 0L)); netCur(nk) = (s0 + c, c0 + 1)
        val base = p match {
          case Some(v) if v.toDouble / c > quotient && v > limit => limit
          case Some(v) => v
          case None => limit
        }
        if (c.toDouble / base > quotient) out += ((proto, typ, base, ip))
      }
    }
    // per-/24 branch, after every per-IP alert
    for ((nk, (s, c)) <- netCur.toSeq.sortBy(_._1)) {
      val cur = avg(s, c)
      val base = netPrev.get(nk).map { case (ps0, pc0) => avg(ps0, pc0) } match {
        case Some(v) if v.toDouble / cur > quotient => limitNet
        case Some(v) => v
        case None => limitNet
      }
      if (cur.toDouble / base > quotient)
        out += (((nk >>> 40).toInt, ((nk >>> 32) & 0xFF).toInt, base, nk & 0xFFFFFFFFL))
    }
    // TTL sweep, then dedup + watch-list in collect order
    seen.filterInPlace { case (_, stamp) => now - stamp < ttlSec }
    out.toSeq.filter { case (p, t, _, ip) =>
      val k = key(p, t, ip)
      !seen.contains(k) && watch.contains(ip) && { seen(k) = now; true }
    }.map { case (p, t, b, ip) => BatchChecker.render(p, t, b, ip) }
  }

  def trackedKeys: Int = seen.size
}

object BatchChecker {
  def dotted(ip: Long): String =
    Seq(24, 16, 8, 0).map(s => ((ip >>> s) & 0xFF).toString).mkString(".")
  /** The reference's rule line (hha.py:239–241). */
  def render(proto: Int, typ: Int, baseline: Int, ip: Long): String =
    s"Generate Rule for type protocol $typ number protocol $proto ip = ${dotted(ip)} " +
      s"baseline = $baseline"
}

/** Independent model of `StreamingDetect` with a file source and one
  * landing per trigger: per-key tumbling windows; after a landing the
  * watermark is max(event time) − delay, and every window that ends at
  * or before it is closed, oldest first, and compared against the key's
  * previous closed window (truncating average, clamp when ratio > q
  * and prev > limit, a key's first window compares against the limit).
  */
final class StreamChecker(windowSec: Long, delaySec: Long, limit: Int, quotient: Double) {
  private final class KeyState(val open: mutable.LongMap[(Long, Long)], var prev: Option[Int])
  private val keys = mutable.LongMap.empty[KeyState]
  private var maxTs = Long.MinValue

  /** Alerts (window_start, num_protocol, type_proto, baseline, dst_ip)
    * that one landing closes.
    */
  def landing(r: Rows): Seq[(Long, Int, Int, Int, Long)] = {
    for (i <- 0 until r.n) {
      val k = (r.proto(i).toLong << 40) | (r.typ(i).toLong << 32) | r.ip(i)
      val st = keys.getOrElseUpdate(k, new KeyState(mutable.LongMap.empty, None))
      val ws = Math.floorDiv(r.ts(i), windowSec) * windowSec
      val (s, c) = st.open.getOrElse(ws, (0L, 0L))
      st.open(ws) = (s + r.pkt(i), c + 1)
      maxTs = math.max(maxTs, r.ts(i))
    }
    val wm = maxTs - delaySec
    val out = mutable.ArrayBuffer.empty[(Long, Int, Int, Int, Long)]
    for ((k, st) <- keys) {
      for (ws <- st.open.keys.toSeq.sorted if ws + windowSec <= wm) {
        val (s, c) = st.open.remove(ws).get
        val avg = (s.toDouble / c).toInt
        val base = st.prev match {
          case Some(p) if p.toDouble / avg > quotient && p > limit => limit
          case Some(p) => p
          case None => limit
        }
        st.prev = Some(avg)
        if (avg.toDouble / base > quotient)
          out += ((ws, (k >>> 40).toInt, ((k >>> 32) & 0xFF).toInt, base, k & 0xFFFFFFFFL))
      }
    }
    out.toSeq
  }

  def stateKeys: Int = keys.size
}
