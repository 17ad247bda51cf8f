package graft.reference

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.IpFunctions

/** Tuning knobs of the spike analysis (hha.conf:26–30), plus the
  * opt-in "intended semantics" flags (SURVEY §7 decision:
  * bug-compatible by default, documented flags for the intended
  * behavior — both default OFF so every oracle-checked query stays
  * bug-for-bug with the reference):
  *
  * @param weightedNetRollup the reference's /24 roll-up averages the
  *   per-IP truncated averages (hha.py:162,167), weighting a 1-row IP
  *   equally with a 10k-row IP; ON computes the weighted mean
  *   (Σpkt/Σrows over the net — the mean over raw rows), derived from
  *   exact per-IP sum/count partials so the plan shape is unchanged.
  * @param newKeyAlertAtLimit the reference's `na.fill(limit)` makes a
  *   brand-new key alert only when `cur > quotient·limit`, which
  *   contradicts its own README ("if sum_val exceeds LimitNewData",
  *   README.md:93); ON alerts new keys at `cur > limit` as the prose
  *   intends. Known keys are unaffected.
  *
  * The third "intended" knob — bounded instead of open-ended windows
  * (the reference computes `endTime`s and never applies them,
  * hha.py:141,148,321,323) — needs no flag: the window predicates are
  * already injectable, so callers pass a closed interval (see
  * r09_spike_intended).
  */
final case class SpikeParams(
    quotientAmplification: Double = 3.0,
    limitNewData: Int = 2500,
    limitNewDataNet: Int = 3500,
    weightedNetRollup: Boolean = false,
    newKeyAlertAtLimit: Boolean = false
)

/** Traffic-spike detection — the reference's core analysis
  * (`FiltrDataByInterval`, hha.py:132–219) re-expressed as composable
  * Spark operators.
  *
  * Semantics replicated exactly (SURVEY.md §7 "hard parts"):
  *   - truncating `avg(CountPkt).cast(int)` (hha.py:143,149);
  *   - /24 roll-up is an average-of-truncated-averages, NOT a weighted
  *     mean (hha.py:162,167);
  *   - baseline clamp: per-IP requires `prev > limit` (hha.py:191),
  *     per-net does NOT (hha.py:177) — the asymmetry is intentional;
  *   - left-join nulls filled with the limit (hha.py:179,194), which
  *     encodes new-key detection: a brand-new key alerts only when
  *     `cur > quotient * limit`;
  *   - the alert row carries the *baseline* (`prev_sum_val2`) in its
  *     `sum_val` column (hha.py:199,210);
  *   - positional union of the per-IP and per-net branches
  *     (hha.py:213–214).
  *
  * One deliberate divergence: `dst_net` stays numeric (LongType /24
  * mask) instead of the reference's decimal string (hha.py:20) — joins
  * and unions stay numeric and codegen'd; see IpFunctions.
  *
  * Scale notes (100 TB design point): both window aggregates shuffle
  * once on (num_protocol, type_proto, dst_ip) with map-side partial
  * aggregation; the per-IP join reuses that exact partitioning (no
  * second shuffle); the /24 roll-up re-aggregates the already-small
  * key-level frame. AQE skew-join handles a hot attacked IP. The
  * aggregated frames are proportional to |distinct keys|, not input
  * rows, so everything after the first aggregation is cheap.
  */
object SpikeDetector {

  private val KeyCols = Seq("num_protocol", "type_proto")

  /** Truncating-average aggregate over one time window
    * (hha.py:143/149): groupBy(num_protocol, type_proto, key) →
    * avg(CountPkt) cast to int (truncated toward zero).
    */
  def aggregateWindow(hist: DataFrame, keyCol: String = "dst_ip"): DataFrame =
    hist
      .groupBy((KeyCols :+ keyCol).map(col): _*)
      .agg(avg("CountPkt").cast("int").as("sum_val"))
      .select(col("num_protocol"), col("type_proto"), col("sum_val"), col(keyCol))

  /** `prev_`-prefix every column, disambiguating the self-join
    * (hha.py:150, 168).
    */
  def prefixPrev(df: DataFrame): DataFrame =
    df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"prev_$c"))

  /** /24 roll-up (hha.py:160–168): derive the network key and
    * re-average the per-IP truncated averages (average-of-averages —
    * each /32 contributes equally, matching the reference).
    */
  def rollupNet(agg: DataFrame, ipCol: String = "dst_ip", netCol: String = "dst_net"): DataFrame =
    agg
      .withColumn(netCol, IpFunctions.ipToNet24(col(ipCol)))
      .groupBy((KeyCols :+ netCol).map(col): _*)
      .agg(avg("sum_val").cast("int").as("sum_val"))
      .select(col("num_protocol"), col("type_proto"), col("sum_val"), col(netCol))

  /** Left-outer 3-key join of the current window onto the previous
    * window, deriving the clamped baseline `prev_sum_val2`
    * (hha.py:170–194).
    *
    * @param requirePrevAboveLimit the per-IP branch clamps only when
    *   `prev > limit` (hha.py:191); the per-net branch clamps on ratio
    *   alone (hha.py:177).
    */
  def joinBaseline(
      cur: DataFrame,
      prev: DataFrame,
      keyCol: String,
      limit: Int,
      quotient: Double,
      requirePrevAboveLimit: Boolean
  ): DataFrame = {
    // cur and prev have disjoint column names (prev_ prefix), so plain
    // name refs are unambiguous even though both derive from one scan.
    val cond = KeyCols.:+(keyCol).map(k => col(k) === col(s"prev_$k")).reduce(_ && _)
    val ratioClamp = col("prev_sum_val") / col("sum_val") > quotient
    val clampWhen =
      if (requirePrevAboveLimit) ratioClamp && col("prev_sum_val") > limit
      else ratioClamp
    cur
      .join(prev, cond, "left")
      .select(
        col("num_protocol"),
        col("type_proto"),
        col("sum_val"),
        col(keyCol),
        col("prev_sum_val"),
        when(clampWhen, limit).otherwise(col("prev_sum_val")).as("prev_sum_val2")
      )
      .na.fill(limit, Seq("prev_sum_val", "prev_sum_val2"))
  }

  /** Spike filter + alert projection (hha.py:198–199, 209–210): fire
    * when current exceeds `quotient ×` baseline; the alert's `sum_val`
    * carries the baseline.
    */
  def spikes(joined: DataFrame, keyCol: String, quotient: Double): DataFrame =
    joined
      .filter(col("sum_val") / col("prev_sum_val2") > quotient)
      .select(
        col("num_protocol"),
        col("type_proto"),
        col("prev_sum_val2").as("sum_val"),
        col(keyCol)
      )

  /** Full pipeline (hha.py:132–219): window aggregates → per-IP and
    * per-/24 branches → baseline joins → spike filters → positional
    * union. Output columns: num_protocol, type_proto, sum_val, dst_ip
    * (the net branch's dst_ip carries the /24 network address).
    *
    * @param materialize cache the two window aggregates, which are
    *   each consumed twice (ip + net branches). This replaces the
    *   reference's RDD round-trip `recreateDF` hack (hha.py:119–128)
    *   with the idiomatic `cache()`. Off by default so oracle queries
    *   stay side-effect-free single plans.
    */
  def detect(
      hist: DataFrame,
      currentPredicate: Column,
      previousPredicate: Column,
      params: SpikeParams = SpikeParams(),
      materialize: Boolean = false
  ): DataFrame = {
    var cur = aggregateWindow(hist.filter(currentPredicate))
    var prev = prefixPrev(aggregateWindow(hist.filter(previousPredicate)))
    if (materialize) { cur = cur.cache(); prev = prev.cache() }

    val curNet = rollupNet(cur)
    val prevNet = rollupNet(
      prev.toDF("num_protocol", "type_proto", "sum_val", "dst_ip")
    ).transform(prefixPrev)

    val ipJoined = joinBaseline(cur, prev, "dst_ip", params.limitNewData,
      params.quotientAmplification, requirePrevAboveLimit = true)
    val netJoined = joinBaseline(curNet, prevNet, "dst_net", params.limitNewDataNet,
      params.quotientAmplification, requirePrevAboveLimit = false)

    val ipSpikes = spikes(ipJoined, "dst_ip", params.quotientAmplification)
    val netSpikes = spikes(netJoined, "dst_net", params.quotientAmplification)

    // Positional union (hha.py:213–214); the net leg's 4th column is
    // the /24 network carried under the dst_ip name.
    ipSpikes.union(netSpikes.withColumnRenamed("dst_net", "dst_ip"))
  }

  private val PartialCols = Seq("cur_sum", "cur_cnt", "prev_sum", "prev_cnt")

  /** Row-level window partials: every row that falls in either window,
    * as its key plus its contribution to each window's exact Σ CountPkt
    * (`cur_sum`, `prev_sum`: the value, or null outside the window) and
    * count of non-null CountPkt (`cur_cnt`, `prev_cnt`: 1 or 0). The
    * schema equals [[windowPartials]]'s, so [[mergePartials]] folds row-
    * and key-level frames alike.
    */
  def rowPartials(hist: DataFrame, currentPredicate: Column, previousPredicate: Column): DataFrame = {
    val cur = when(currentPredicate, col("CountPkt"))
    val prev = when(previousPredicate, col("CountPkt"))
    hist
      .filter(currentPredicate || previousPredicate)
      .select(col("num_protocol"), col("type_proto"), col("dst_ip"),
        cur.as("cur_sum"), cur.isNotNull.cast("long").as("cur_cnt"),
        prev.as("prev_sum"), prev.isNotNull.cast("long").as("prev_cnt"))
  }

  /** Merge partial frames of disjoint row sets: plain per-key sums.
    * A window's Σ stays null iff its count is 0, so merged frames obey
    * the same invariant as their inputs.
    */
  def mergePartials(parts: DataFrame*): DataFrame = {
    val aggs = PartialCols.map(c => sum(c).as(c))
    parts.reduce(_ union _)
      .groupBy((KeyCols :+ "dst_ip").map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Exact per-key window partials (the numerators and denominators of
    * hha.py:143,149 before the average): one row per
    * (num_protocol, type_proto, dst_ip) with a row in either window,
    * carrying `cur_sum`, `cur_cnt`, `prev_sum`, `prev_cnt` as longs.
    */
  def windowPartials(hist: DataFrame, currentPredicate: Column, previousPredicate: Column): DataFrame =
    mergePartials(rowPartials(hist, currentPredicate, previousPredicate))

  /** The spike semantics over exact partials: truncating averages
    * `(Σ/count).cast(int)` per window (null for an empty window — the
    * value `avg` gives, bit for bit while |Σ| < 2^53), the reference's
    * left self-join as a filter on `cur IS NOT NULL` (a key is on the
    * left of that join iff it has current-window rows, with prev NULL
    * iff it has none), the baseline clamp and the /24 roll-up, then the
    * positional union of the per-IP and per-net branches.
    *
    * Any frame of [[windowPartials]]' schema works, so partials merged
    * from separately scanned files (see `graft.app.SpikeScheduler`)
    * alert exactly like one scan over all of them.
    */
  def fromPartials(partials: DataFrame, params: SpikeParams = SpikeParams()): DataFrame = {
    def truncAvg(s: Column, n: Column): Column = when(n > 0, (s / n).cast("int"))
    val fused = partials.select(col("num_protocol"), col("type_proto"), col("dst_ip"),
      truncAvg(col("cur_sum"), col("cur_cnt")).as("sum_val"),
      truncAvg(col("prev_sum"), col("prev_cnt")).as("prev_sum_val"),
      col("cur_sum"), col("cur_cnt"), col("prev_sum"), col("prev_cnt"))

    def clampAndSpike(df: DataFrame, keyCol: String, limit: Int,
                      requirePrevAboveLimit: Boolean): DataFrame = {
      val ratioClamp = col("prev_sum_val") / col("sum_val") > params.quotientAmplification
      val clampWhen =
        if (requirePrevAboveLimit) ratioClamp && col("prev_sum_val") > limit
        else ratioClamp
      val alertCond =
        if (params.newKeyAlertAtLimit)
          // the README-prose semantics: brand-new keys (no previous
          // window → prev IS NULL before the fill) alert at cur > limit
          when(col("prev_sum_val").isNull, col("sum_val") > limit)
            .otherwise(col("sum_val") / col("prev_sum_val2") > params.quotientAmplification)
        else
          col("sum_val") / col("prev_sum_val2") > params.quotientAmplification
      df.filter(col("sum_val").isNotNull) // = the left side of the reference join
        .select(col("num_protocol"), col("type_proto"), col("sum_val"), col(keyCol),
          col("prev_sum_val"),
          when(clampWhen, limit).otherwise(col("prev_sum_val")).as("prev_sum_val2"))
        .na.fill(limit, Seq("prev_sum_val2"))
        .filter(alertCond)
        .select(col("num_protocol"), col("type_proto"),
          col("prev_sum_val2").as("sum_val"), col(keyCol))
    }

    // the /24 branch: bug-compatible = avg of the truncated per-IP
    // avgs; intended = weighted mean Σpkt/Σrows from the exact
    // partials (≡ the mean over raw rows, no second fact scan)
    val fusedNet = {
      val keyed = fused.withColumn("dst_net", IpFunctions.ipToNet24(col("dst_ip")))
        .groupBy((KeyCols :+ "dst_net").map(col): _*)
      if (params.weightedNetRollup)
        keyed.agg(
          truncAvg(sum("cur_sum"), sum("cur_cnt")).as("sum_val"),
          truncAvg(sum("prev_sum"), sum("prev_cnt")).as("prev_sum_val"))
      else
        keyed.agg(
          avg("sum_val").cast("int").as("sum_val"),
          avg("prev_sum_val").cast("int").as("prev_sum_val"))
    }

    clampAndSpike(fused, "dst_ip", params.limitNewData, requirePrevAboveLimit = true)
      .union(clampAndSpike(fusedNet, "dst_net", params.limitNewDataNet,
        requirePrevAboveLimit = false).withColumnRenamed("dst_net", "dst_ip"))
  }

  /** Same answers as [[detect]], better plan: ONE scan + ONE shuffle —
    * `fromPartials(windowPartials(hist, ...))`.
    *
    * Both windows' exact Σ and count come from a single conditional
    * aggregation (`sum`/`count` of `when(pred, CountPkt)`, so each side
    * covers exactly the rows its window predicate admits), and the
    * reference's 3-key left self-join collapses into a filter on
    * `cur IS NOT NULL` (see [[fromPartials]]). The /24 branches
    * re-aggregate the fused frame.
    *
    * At 100 TB this is the difference between 4 fact scans + 2 agg
    * shuffles + a join (or 2 scans + cache with [[detect]]'s
    * materialize) and one scan + one shuffle + small re-aggs —
    * equivalence is oracle-checked (r08) and property-tested against
    * [[detect]].
    */
  def detectFused(
      hist: DataFrame,
      currentPredicate: Column,
      previousPredicate: Column,
      params: SpikeParams = SpikeParams()
  ): DataFrame =
    fromPartials(windowPartials(hist, currentPredicate, previousPredicate), params)
}
