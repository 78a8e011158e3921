package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** OPTIONAL bit-compat mode for delta/rate (SURVEY.md §7.3): the reference
  * computes them over ARRIVAL order — first-processed and last-processed
  * envelope (aggregation/delta_metric.go, rate_metric.go) — including its
  * single-point degenerates: a window with one point was never UpdateValue'd,
  * so delta = 0 − v = −v and rate = (0 − v) / ((0 − ts)/1000) = v·1000/ts
  * (SURVEY.md §2.1.1). [[FunctionCatalog]]'s default mode deliberately uses
  * deterministic event-time order instead; this Aggregator exists for golden
  * comparison against reference output streams.
  *
  * "Arrival order" here is row order within the aggregation, and it holds
  * only up to `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  * (128) groups per partition, even on a single partition: past it Spark's
  * object aggregate falls back to sorting and merges a group's later rows
  * before its earlier buffer, so first/last read the wrong rows. Within that
  * limit a single partition is exact (as in the single-threaded reference);
  * across partitions the merge order follows partition order, which is as
  * (un)defined as the reference's behavior under any reordering.
  */
object ArrivalOrder {

  case class ValueTs(value: Double, ts: Double)

  /** n rows seen; first row (InitValue); most recent row (UpdateValue). */
  case class Buf(n: Long, firstV: Double, firstTs: Double,
      lastV: Double, lastTs: Double)

  private abstract class FirstLastAgg extends Aggregator[ValueTs, Buf, Double] {
    final override def zero: Buf = Buf(0L, 0, 0, 0, 0)
    final override def reduce(b: Buf, in: ValueTs): Buf =
      if (b.n == 0L) Buf(1L, in.value, in.ts, in.value, in.ts)
      else b.copy(n = b.n + 1, lastV = in.value, lastTs = in.ts)
    final override def merge(a: Buf, b: Buf): Buf =
      if (a.n == 0L) b
      else if (b.n == 0L) a
      else Buf(a.n + b.n, a.firstV, a.firstTs, b.lastV, b.lastTs)
    final override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    final override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  private class ArrivalDelta extends FirstLastAgg {
    // n == 1 → finalValue stayed zero-valued → 0 − v (reference bug, kept)
    override def finish(b: Buf): Double =
      if (b.n <= 1L) 0.0 - b.firstV else b.lastV - b.firstV
  }

  private class ArrivalRate extends FirstLastAgg {
    override def finish(b: Buf): Double = {
      val (fv, ft) = if (b.n <= 1L) (0.0, 0.0) else (b.lastV, b.lastTs)
      (fv - b.firstV) / ((ft - b.firstTs) / 1000.0) // Go float semantics: /0 → ±Inf/NaN
    }
  }

  /** Arrival-order delta aggregate column over (value, tsMs). */
  def delta(value: Column, tsMs: Column): Column =
    udaf(new ArrivalDelta, Encoders.product[ValueTs]).apply(value, tsMs)

  /** Arrival-order rate aggregate column over (value, tsMs). */
  def rate(value: Column, tsMs: Column): Column =
    udaf(new ArrivalRate, Encoders.product[ValueTs]).apply(value, tsMs)
}
