package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

/** Decodes the program's output envelopes with Jackson and compares them
  * with the checker's rows. */
object Check {
  private val mapper = new ObjectMapper()

  /** One output envelope as a checker row; Left on a malformed envelope. */
  def decode(bytes: Array[Byte]): Either[String, RefLoop.Row] =
    try {
      val n = mapper.readTree(bytes)
      val m = n.get("metric")
      val dims = Option(m.get("dimensions")).filterNot(_.isNull)
        .map(_.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
        .getOrElse(Map.empty)
      val meta = n.get("meta")
      val vm = m.get("value_meta")
      if (vm == null || !vm.isObject || vm.size != 0) Left(s"value_meta is not {}: ${new String(bytes)}")
      else if (meta == null || meta.size != 1 || !meta.has("tenantId")) Left(s"meta is not {tenantId}: ${new String(bytes)}")
      else if (n.get("creation_time") == null || !n.get("creation_time").canConvertToLong)
        Left(s"no creation_time: ${new String(bytes)}")
      else Right(RefLoop.Row(m.get("name").asText, meta.get("tenantId").asText,
        m.get("timestamp").asDouble.toLong, dims, m.get("value").asDouble))
    } catch { case e: Exception => Left(s"undecodable output ${e.getMessage}") }

  /** None when `got` holds exactly the `expected` rows (values within the
    * tolerance), else the first difference. */
  def compare(expected: Seq[RefLoop.Row], got: Seq[RefLoop.Row]): Option[String] = {
    val want = expected.map(r => r.key -> r.value).toMap
    val have = got.groupBy(_.key)
    if (want.size != expected.size) Some("checker produced duplicate keys")
    else have.collectFirst { case (k, rs) if rs.size > 1 => s"duplicate output row $k" }
      .orElse(have.keys.find(k => !want.contains(k)).map(k => s"unexpected output row $k"))
      .orElse(want.keys.find(k => !have.contains(k)).map(k => s"missing output row $k"))
      .orElse(want.collectFirst { case (k, v) if !RefLoop.close(v, have(k).head.value) =>
        s"value of $k: expected $v, got ${have(k).head.value}" })
  }
}
