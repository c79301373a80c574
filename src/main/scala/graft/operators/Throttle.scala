package graft.operators

import java.util.concurrent.TimeUnit

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's throttler (squeryer.go:352-361): at most N elements
  * per period, overflow discarded.
  *
  * Batch semantics: "arrival order" is event-time order, so the first
  * N rows of each period by (timestamp, tie-breakers) survive. One
  * shuffle on the period key; row_number is computed per-partition
  * after the shuffle, so at 100 TB the cost is one exchange on a
  * well-distributed key (period count grows with data span).
  *
  * Streaming: [[streaming]] counts admissions per period in state
  * (exact cross-batch N, overflow discarded), or bound ingest at the
  * source with LogSource.stream's maxFilesPerTrigger.
  */
object Throttle {

  def firstNPerPeriod(df: DataFrame, tsCol: String, periodSec: Long, n: Int,
                      tieCols: Seq[String] = Nil): DataFrame = {
    val tus = unix_micros(col(tsCol))
    val period = floor(tus / lit(periodSec * 1000000L))
    val order: Seq[Column] = tus +: tieCols.map(col)
    val w = Window.partitionBy(period).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= n)
      .drop("_rn")
  }

  /** Exact streaming throttle: at most `n` rows pass per
    * `periodSec`-sized event-time period, counted ACROSS micro-batches
    * (one long of state per open period, timed out `delay` past the
    * period's end — the watermark bounds state exactly like the
    * reference's per-period reset). Overflow rows are discarded, as
    * in squeryer.go:352. Which rows of a period survive follows
    * arrival order, which inside a micro-batch is partition order —
    * the same arrival nondeterminism the reference's channel has.
    * A row whose period timed out before it arrived (period end plus
    * `delay` already behind the watermark) is discarded: that period's
    * count is gone, so no admission for it can be exact.
    */
  def streaming(df: DataFrame, tsCol: String, periodSec: Long, n: Int,
                delay: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = df.sparkSession
    import spark.implicits._
    val withPeriod = df
      .withWatermark(tsCol, delay)
      .withColumn("_period", floor(unix_micros(col(tsCol)) / lit(periodSec * 1000000L)))
    val delayMs = IntervalUtils.getDuration(
      IntervalUtils.stringToInterval(UTF8String.fromString(delay)), TimeUnit.MILLISECONDS)
    implicit val rowEnc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(withPeriod.schema)
    withPeriod
      .groupByKey(r => r.getAs[Long]("_period"))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (period: Long, rows: Iterator[org.apache.spark.sql.Row],
         state: GroupState[Long]) => {
          // state lives until the watermark passes the period's end
          val timeoutMs = (period + 1) * periodSec * 1000L + delayMs
          if (state.hasTimedOut || timeoutMs < state.getCurrentWatermarkMs()) {
            state.remove(); Iterator.empty
          } else {
            val used = state.getOption.getOrElse(0L)
            val admitted = rows.take(math.max(0, n - used.toInt)).toSeq
            state.update(used + admitted.size)
            state.setTimeoutTimestamp(timeoutMs)
            admitted.iterator
          }
        })
      .drop("_period")
  }
}
