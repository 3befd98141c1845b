package graft.streaming

import graft.operators.Seasonality
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming face of the seasonality profile
  * ([[graft.operators.Seasonality]]): maintain RUNNING per-(group,
  * day) event counts across micro-batches and report, after each
  * batch, every group's phase profile plus a SPIKE/DROP/QUIET verdict
  * for the latest day against its own phase's historical mean —
  * "did today's crawl volume break its weekday pattern" without
  * storing the stream.
  *
  * The state is EXACTLY mergeable by construction (daily counts are
  * long sums, batch-order-independent), so the running profile after
  * any micro-batch sequence is BIT-equal to the batch
  * [[Seasonality.profileFromDaily]] over the concatenated stream
  * (spec-asserted). State size is groups × observed days — bounded by
  * the CALENDAR, not the stream (the [[TrendStream]] driver-state
  * class); per-batch distributed work is one grouped count over
  * batch-sized data, and the profile recompute runs on the state
  * frame.
  */
object CadenceStream {

  /** (group, day) → n. */
  type CadenceState = Map[(String, Long), Long]

  /** Distributed per-batch daily counts, collected as state. */
  def state(batch: DataFrame, groupCol: String, tsCol: Column): CadenceState =
    batch
      .select(col(groupCol).as("_g"),
        tsCol.cast("timestamp").cast("long").as("_secs"))
      .filter(col("_secs").isNotNull)
      .groupBy(col("_g"), expr("_secs div 86400").as("_day"))
      .agg(count(lit(1)).as("_n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap

  def mergeStates(a: CadenceState, b: CadenceState): CadenceState =
    MicroBatch.mergeKeyed(a, b)(_ + _)

  /** Exact dyadic EWMA per group from the folded daily state — the
    * streaming face of [[graft.operators.Ewma.dailyHalfLife]]: the
    * same 2^60-fixed-point integer fold (BigInt here), so the value is
    * BIT-equal to the batch gate's `ewma_q` over the concatenated
    * stream (spec-asserted). Returns (group → (latest day, ewma_q)).
    */
  def ewmaQ(running: CadenceState): Map[String, (Long, Long)] = {
    val h = graft.operators.Ewma.HorizonDays
    running.keys.map(_._1).toSeq.distinct.map { g =>
      val days = running.collect { case ((`g`, d), n) => (d, n) }.toSeq
      val maxd = days.map(_._1).max
      val num = days.filter(_._1 > maxd - h)
        .map { case (d, n) =>
          BigInt(n) * (BigInt(1) << (h + (d - maxd)).toInt) }
        .sum
      g -> (maxd, (num / (BigInt(1) << (h - 20))).toLong)
    }.toMap
  }

  /** The batch profile recomputed over the folded daily state. */
  def profile(spark: SparkSession, running: CadenceState,
      period: Int): DataFrame = {
    import spark.implicits._
    Seasonality.profileFromDaily(
      running.toSeq.map { case ((g, d), n) => (g, d, n) }
        .toDF("grp", "day", "n"),
      Seq("grp"), "day", "n", period)
  }

  /** Latest-day verdicts: for each group's max observed day, ratio of
    * that day's count to its phase's per-calendar-day mean in ppm
    * (exact integers: `1e6·n_last·cal_days div n_events`); SPIKE above
    * `hiPpm`, DROP below `loPpm`, QUIET between. A phase only ever
    * seen on the latest day itself reads 1e6 · cal_days/1 ÷ 1 — the
    * self-ratio stays a well-defined integer, no special case.
    */
  def verdicts(running: CadenceState, period: Int, loPpm: Long,
      hiPpm: Long): Seq[(String, Long, Long, Long, String)] =
    running.keySet.iterator.map(_._1).toSeq.distinct.sorted.map { g =>
      val days = running.collect { case ((`g`, d), n) => d -> n }
      val (lastDay, lastN) = days.maxBy(_._1)
      val phase = ((lastDay % period) + period) % period
      val mind = days.keys.min
      val maxd = days.keys.max
      val first = mind + (((phase - mind % period) % period + period) % period)
      val calDays = if (first > maxd) 0L else (maxd - first) / period + 1
      val phaseTotal = days.collect {
        case (d, n) if ((d % period) + period) % period == phase => n
      }.sum
      val ratio = (1000000L * lastN * calDays) / phaseTotal
      val v = if (ratio > hiPpm) "SPIKE"
        else if (ratio < loPpm) "DROP" else "QUIET"
      (g, lastDay, lastN, ratio, v)
    }

  /** Wire an event stream into the running monitor: after each
    * micro-batch, `onBatch` receives the batch id, the latest-day
    * verdicts, and the running state. State lives in this driver
    * closure like [[TrendStream]]; production persists the (bounded,
    * mergeable) daily-count state and re-seeds losslessly.
    */
  def monitor(updates: DataFrame, groupCol: String, tsCol: Column,
      period: Int, loPpm: Long, hiPpm: Long)(
      onBatch: (Long, Seq[(String, Long, Long, Long, String)],
        CadenceState) => Unit): DataStreamWriter[Row] =
    MicroBatch.fold(updates, Map.empty: CadenceState)((running, batch) =>
        mergeStates(running, state(batch, groupCol, tsCol))) {
      (batchId, running) =>
        onBatch(batchId, verdicts(running, period, loPpm, hiPpm), running)
    }
}
