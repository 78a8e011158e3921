package perfbench

import scala.collection.mutable

/** The checker: a plain per-envelope loop over the rules, in the shape of the
  * reference service (server.go:316-320), written apart from the program. It
  * follows the engine's documented semantics:
  *  - filters F1-F4: name equality; every filtered dimension equal (absent
  *    key or nil dimensions: no match); a reject matches on equality, or on
  *    key presence for `""`, and a rule with rejects drops nil dimensions;
  *    every grouped key present;
  *  - epoch-aligned tumbling windows, output timestamp = window start (ms);
  *  - tenant = meta.tenantId, `""` when absent;
  *  - count as a double; delta/rate by event time with the lexicographic
  *    (ts, value) tie rule, rate 0 when the window spans no time;
  *  - rollup re-aggregates the stage-1 rows (timestamp = their window start)
  *    into the same or a coarser window, emitting only the rollup rows.
  */
object RefLoop {

  /** One emitted aggregate; `dims` as the program should write them. */
  final case class Row(name: String, tenant: String, tsMs: Long,
      dims: Map[String, String], value: Double) {
    def key: Key = Key(name, tenant, tsMs, dims)
  }
  final case class Key(name: String, tenant: String, tsMs: Long, dims: Map[String, String])

  /** Running aggregate of one (rule, window, tenant, group). */
  final class Acc {
    var n = 0L
    var sum = 0.0
    var min = Double.PositiveInfinity
    var max = Double.NegativeInfinity
    var firstT = Double.NaN; var firstV = Double.NaN
    var lastT = Double.NaN; var lastV = Double.NaN
    var minT = Double.PositiveInfinity
    var maxT = Double.NegativeInfinity

    def add(t: Double, v: Double): Unit = {
      n += 1; sum += v
      if (v < min) min = v
      if (v > max) max = v
      if (t < minT) minT = t
      if (t > maxT) maxT = t
      if (n == 1 || t < firstT || (t == firstT && v < firstV)) { firstT = t; firstV = v }
      if (n == 1 || t > lastT || (t == lastT && v > lastV)) { lastT = t; lastV = v }
    }

    def eval(fn: String): Double = fn match {
      case "sum" => sum
      case "count" => n.toDouble
      case "avg" => sum / n
      case "min" => min
      case "max" => max
      case "delta" => lastV - firstV
      case "rate" => if (maxT == minT) 0.0 else (lastV - firstV) / ((maxT - minT) / 1000.0)
      case other => throw new IllegalArgumentException(s"checker has no function $other")
    }
  }

  def matches(r: Rule, e: Env): Boolean = {
    if (e.name != r.metric) return false
    val d = e.dims
    val f2 = r.filtered.forall { case (k, v) => d.exists(_.get(k).contains(v)) }
    val f3 = r.rejected.isEmpty || d.exists { m =>
      !r.rejected.exists { case (k, v) => if (v.isEmpty) m.contains(k) else m.get(k).contains(v) }
    }
    val f4 = r.grouped.forall(k => d.exists(_.contains(k)))
    f2 && f3 && f4
  }

  private type GroupKey = (Long, String, Seq[String]) // window start ms, tenant, grouped values

  /** Stage 1 state of one rule: accumulators by (window, tenant, group). */
  final class RuleState(val rule: Rule, windowMs: Long) {
    val groups = mutable.HashMap.empty[GroupKey, Acc]
    var maxTs = Long.MinValue

    def offer(e: Env): Unit = if (matches(rule, e)) {
      val w = Math.floorDiv(e.tsMs, windowMs) * windowMs
      val key = (w, e.tenant.getOrElse(""), rule.grouped.map(k => e.dims.get(k)))
      groups.getOrElseUpdate(key, new Acc).add(e.tsMs.toDouble, e.value)
      if (e.tsMs > maxTs) maxTs = e.tsMs
    }

    /** Removes and emits the windows whose end is at or before `wmMs`. */
    def close(wmMs: Long): Seq[Row] = {
      val done = groups.keys.filter(_._1 + windowMs <= wmMs).toSeq
      val rows = emit(done.map(k => k -> groups(k)))
      done.foreach(groups.remove)
      rows
    }

    private def emit(stage1: Seq[(GroupKey, Acc)]): Seq[Row] = {
      val filteredDims = rule.filtered.toMap
      rule.rollup match {
        case None =>
          stage1.map { case ((w, t, g), acc) =>
            Row(rule.out, t, w, filteredDims ++ rule.grouped.zip(g), acc.eval(rule.fn))
          }
        case Some((rfn, rgrouped, rwin)) =>
          val rwMs = rwin.map(_ * 1000L).getOrElse(windowMs)
          val idx = rgrouped.map(rule.grouped.indexOf)
          val roll = mutable.HashMap.empty[GroupKey, Acc]
          stage1.foreach { case ((w, t, g), acc) =>
            val cw = Math.floorDiv(w, rwMs) * rwMs
            roll.getOrElseUpdate((cw, t, idx.map(g)), new Acc).add(w.toDouble, acc.eval(rule.fn))
          }
          roll.toSeq.map { case ((w, t, g), acc) =>
            Row(rule.out, t, w, filteredDims ++ rgrouped.zip(g), acc.eval(rfn))
          }
      }
    }
  }

  /** Batch: every window of every rule over the whole corpus. */
  def batch(rules: Seq[Rule], windowMs: Long, envs: Iterator[Env]): Seq[Row] = {
    val states = rules.map(new RuleState(_, windowMs))
    envs.foreach(e => states.foreach(_.offer(e)))
    states.flatMap(_.close(Long.MaxValue))
  }

  /** Streaming: each rule keeps its own watermark (max matching event time
    * minus the lag, never moving back, as the program applies the watermark
    * after the rule's filter); a handover returns the rows of the windows it
    * closes. Rows at or below the watermark in force would be dropped by the
    * program — the generator never makes them, and this loop rejects them. */
  final class Stream(rules: Seq[Rule], windowMs: Long, lagMs: Long) {
    private val states = rules.map(new RuleState(_, windowMs))
    private val wm = Array.fill(rules.size)(Long.MinValue)

    def handover(envs: Seq[Env]): Seq[Row] = {
      states.zipWithIndex.foreach { case (s, i) =>
        envs.foreach { e =>
          if (matches(s.rule, e) && e.tsMs <= wm(i))
            throw new IllegalStateException(s"generator made a late row for ${s.rule.name}")
          s.offer(e)
        }
      }
      states.zipWithIndex.flatMap { case (s, i) =>
        if (s.maxTs != Long.MinValue) wm(i) = math.max(wm(i), s.maxTs - lagMs)
        s.close(wm(i))
      }
    }
  }

  /** Floating-point comparison with a relative tolerance. */
  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
