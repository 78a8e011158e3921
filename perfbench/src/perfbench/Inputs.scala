package perfbench

import graft.model.{AggregationSpec, RollupSpec}

/** One generated envelope, as the generator knows it. The checker works from
  * these records; the program only ever sees the JSON text written from them.
  *
  * @param dims      None = nil dimensions (written as an absent key when
  *                  `nilAbsent`, else as JSON null)
  * @param tenant    None = no tenantId (meta written in form `metaForm`:
  *                  0 empty object, 1 absent, 2 an unrelated key)
  */
final case class Env(name: String, dims: Option[Map[String, String]], tsMs: Long,
    value: Double, tenant: Option[String], nilAbsent: Boolean = true, metaForm: Int = 0)

/** A rule in the checker's own terms (independent of the program's spec
  * loader): name filter, dimension equality, rejects (`""` = any value),
  * grouping, and an optional rollup `(function, grouped, coarser window s)`. */
final case class Rule(name: String, fn: String, metric: String,
    filtered: Seq[(String, String)] = Nil, rejected: Seq[(String, String)] = Nil,
    grouped: Seq[String] = Nil, out: String,
    rollup: Option[(String, Seq[String], Option[Long])] = None) {

  /** The program's spec type, for comparing what `SpecLoader` read. */
  def toSpec: AggregationSpec = AggregationSpec(name = name, function = fn,
    filteredMetricName = metric, filteredDimensions = filtered.toMap,
    rejectedDimensions = rejected.toMap, groupedDimensions = grouped,
    aggregatedMetricName = out,
    rollup = rollup.map { case (f, g, w) => RollupSpec(f, g, w) })

  def toYaml: String = {
    val sb = new StringBuilder
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def seq(xs: Seq[String]) = xs.map(q).mkString("[", ", ", "]")
    def kv(ind: String, key: String, m: Seq[(String, String)]): Unit =
      if (m.nonEmpty) {
        sb ++= s"$ind$key:\n"
        m.foreach { case (k, v) => sb ++= s"$ind  ${q(k)}: ${q(v)}\n" }
      }
    sb ++= s"  - name: ${q(name)}\n"
    sb ++= s"    aggregatedMetricName: ${q(out)}\n"
    sb ++= s"    filteredMetricName: ${q(metric)}\n"
    kv("    ", "filteredDimensions", filtered)
    kv("    ", "rejectedDimensions", rejected)
    if (grouped.nonEmpty) sb ++= s"    groupedDimensions: ${seq(grouped)}\n"
    sb ++= s"    function: ${q(fn)}\n"
    rollup.foreach { case (f, g, w) =>
      sb ++= s"    rollup:\n      function: ${q(f)}\n      groupedDimensions: ${seq(g)}\n"
      w.foreach(s => sb ++= s"      windowSize: $s\n")
    }
    sb.result()
  }
}

object Rule {
  def yaml(rules: Seq[Rule]): String =
    "aggregationSpecifications:\n" + rules.map(_.toYaml).mkString
}

/** Hand-written wire JSON: the benchmark never uses the program's serializer
  * or Spark's `to_json` to make its inputs. */
object Wire {
  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }

  private def obj(sb: StringBuilder, m: Iterable[(String, String)]): Unit = {
    sb += '{'
    var first = true
    m.foreach { case (k, v) =>
      if (!first) sb += ','
      first = false
      str(sb, k); sb += ':'; str(sb, v)
    }
    sb += '}'
  }

  def envelope(e: Env): String = {
    val sb = new StringBuilder(192)
    sb ++= "{\"metric\":{\"name\":"
    str(sb, e.name)
    e.dims match {
      case Some(d) => sb ++= ",\"dimensions\":"; obj(sb, d)
      case None if !e.nilAbsent => sb ++= ",\"dimensions\":null"
      case None => ()
    }
    sb ++= ",\"timestamp\":" ++= e.tsMs.toString ++= ".0"
    sb ++= ",\"value\":" ++= e.value.toString
    sb ++= ",\"value_meta\":{}}"
    e.tenant match {
      case Some(t) => sb ++= ",\"meta\":"; obj(sb, Seq("tenantId" -> t))
      case None if e.metaForm == 0 => sb ++= ",\"meta\":{}"
      case None if e.metaForm == 2 => sb ++= ",\"meta\":"; obj(sb, Seq("region" -> "r1"))
      case None => ()
    }
    sb ++= ",\"creation_time\":" ++= e.tsMs.toString ++= "}"
    sb.result()
  }

  /** A line no JSON parser accepts, so it fails at its first token. */
  def corrupt(e: Env, kind: Int): String = kind % 3 match {
    case 0 => envelope(e).substring(1)          // opening brace lost
    case 1 => "#" + envelope(e)                  // garbage prefix
    case _ => s"${e.name} ${e.value} ${e.tsMs}"  // plain-text line
  }
}

/** Seeded input generator. The same seed gives the same records, lines and
  * handovers. */
final class Gen(seed: Long) {
  private val rng = new java.util.SplittableRandom(seed)

  def int(n: Int): Int = rng.nextInt(n)
  def chance(p: Double): Boolean = rng.nextDouble() < p
  def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))
  /** Values are multiples of 1/8, so most sums are exact in binary. */
  def value(): Double = rng.nextInt(8000) / 8.0

  private val hosts = Vector("test-01", "host-1", "host-2", "host-3", "inactive-host")
  private val services = Vector("0", "1", "2")
  private val clusters = Vector("test-cluster-01", "test-cluster-02")
  private val tenants = Vector("tenant-a", "tenant-b", "tenant-c")

  /** A dimension map that passes and fails each filter kind: any of
    * hostname/service/cluster may be missing, device (rejected by `""`) is
    * sometimes present, and about 5% of envelopes have nil dimensions. */
  def dims(): Option[Map[String, String]] =
    if (chance(0.05)) None
    else {
      val b = Map.newBuilder[String, String]
      if (chance(0.9)) b += "hostname" -> pick(hosts)
      if (chance(0.9)) b += "service" -> pick(services)
      if (chance(0.75)) b += "cluster" -> pick(clusters)
      if (chance(0.15)) b += "device" -> "sda"
      if (chance(0.3)) b += "region" -> "r1"
      Some(b.result())
    }

  /** Several tenants; about 10% of envelopes carry no tenantId. */
  def env(name: String, tsMs: Long): Env = {
    val tenant = if (chance(0.1)) None else Some(pick(tenants))
    Env(name, dims(), tsMs, value(), tenant, nilAbsent = chance(0.5), metaForm = int(3))
  }
}
