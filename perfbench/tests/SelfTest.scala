package perfbench

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import graft.sources.KafkaIO
import org.apache.spark.sql.streaming.Trigger

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths

/** Tests of the benchmark's own parts: the checker against hand-computed
  * cases, the hand-written wire JSON, and a round trip through `KafkaIO`
  * over the stand-in `kafka` source and sink.
  *
  *   python3 perfbench/build.py --test
  */
object SelfTest {
  private var failures = 0
  private var passed = 0

  def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  def eq[T](got: T, want: T): Unit = assert(got == want, s"got $got, want $want")

  private def env(name: String, dims: Map[String, String], tsMs: Long, v: Double,
      tenant: Option[String] = Some("t")) = Env(name, Some(dims), tsMs, v, tenant)

  /** The single row a one-window, ungrouped rule computes. */
  private def one(fn: String, pts: (Long, Double)*): Double = {
    val r = Rule("R", fn, "m", out = "o")
    val rows = RefLoop.batch(Seq(r), 60000L, pts.iterator.map { case (t, v) => env("m", Map.empty, t, v) })
    eq(rows.size, 1)
    rows.head.value
  }

  def main(args: Array[String]): Unit = {
    test("publisher grid: 6 rows of avg 2.0 per 10 s window, at the window start") {
      val base = 1700000000000L
      val grid = for (tick <- 0 until 20; s <- 0 until 3; h <- 0 until 2)
        yield env("metric2", Map("service" -> s.toString, "hostname" -> h.toString), base + tick * 1000L, 2.0)
      val rule = StreamWorkload.shipped(2)
      val rows = RefLoop.batch(Seq(rule), 10000L, grid.iterator)
      eq(rows.size, 12)
      eq(rows.groupBy(_.tsMs).map { case (t, rs) => t -> rs.size }, Map(base -> 6, (base + 10000) -> 6))
      assert(rows.forall(r => r.value == 2.0 && r.name == "aggregated-metric2"))
      eq(rows.map(_.dims).toSet.size, 6)
    }

    test("sum, count (a double), avg, min, max") {
      val pts = Seq(1000L -> 1.0, 2000L -> 2.0, 3000L -> 3.5)
      eq(one("sum", pts: _*), 6.5)
      eq(one("count", pts: _*), 3.0)
      eq(one("avg", pts: _*), 6.5 / 3)
      eq(one("min", pts: _*), 1.0)
      eq(one("max", pts: _*), 3.5)
    }

    test("delta and rate follow event time, not arrival order") {
      val pts = Seq(1000L -> 5.0, 5000L -> 2.0, 3000L -> 9.0)
      eq(one("delta", pts: _*), -3.0)
      eq(one("rate", pts: _*), -3.0 / 4)
    }

    test("equal timestamps break by value; rate over no time span is 0") {
      eq(one("delta", 1000L -> 7.0, 1000L -> 5.0), 2.0)
      eq(one("rate", 1000L -> 7.0, 1000L -> 5.0), 0.0)
    }

    test("a single-point window has delta 0 and rate 0") {
      eq(one("delta", 1000L -> 4.0), 0.0)
      eq(one("rate", 1000L -> 4.0), 0.0)
    }

    test("filters: name, dimension equality, rejects with the \"\" wildcard, grouped keys") {
      val r = StreamWorkload.shipped(4) // cluster=test-cluster-01, rejects, grouped hostname
      val ok = Map("cluster" -> "test-cluster-01", "hostname" -> "h")
      assert(RefLoop.matches(r, env("metric4", ok, 0, 1)))
      assert(!RefLoop.matches(r, env("metric3", ok, 0, 1)))
      assert(!RefLoop.matches(r, env("metric4", ok + ("cluster" -> "x"), 0, 1)))
      assert(!RefLoop.matches(r, env("metric4", ok - "cluster", 0, 1)))
      assert(!RefLoop.matches(r, env("metric4", ok + ("hostname" -> "inactive-host"), 0, 1)))
      assert(!RefLoop.matches(r, env("metric4", ok + ("device" -> "anything"), 0, 1)))
      assert(!RefLoop.matches(r, env("metric4", ok - "hostname", 0, 1)))
      assert(!RefLoop.matches(r, Env("metric4", None, 0, 1, None)))
      // nil dimensions still match a rule with no dimension conditions
      assert(RefLoop.matches(StreamWorkload.shipped(0), Env("metric0", None, 0, 1, None)))
    }

    test("tenant defaults to \"\"; filtered dimensions are emitted") {
      val rows = RefLoop.batch(Seq(StreamWorkload.shipped(1)), 1000L,
        Iterator(env("metric1", Map("hostname" -> "test-01"), 500, 3.0, tenant = None)))
      eq(rows, Seq(RefLoop.Row("aggregated-metric1", "", 0L, Map("hostname" -> "test-01"), 3.0)))
    }

    test("rollup sums the per-host averages of each service") {
      val pts = Seq(
        env("metric3", Map("hostname" -> "a", "service" -> "s"), 100, 2.0),
        env("metric3", Map("hostname" -> "a", "service" -> "s"), 200, 4.0),
        env("metric3", Map("hostname" -> "b", "service" -> "s"), 300, 10.0))
      val rows = RefLoop.batch(Seq(StreamWorkload.shipped(3)), 1000L, pts.iterator)
      eq(rows, Seq(RefLoop.Row("aggregated-metric3", "t", 0L, Map("service" -> "s"), 13.0)))
    }

    test("a coarser rollup window gathers the fine windows it holds") {
      val r = Rule("R", "max", "m", grouped = Seq("h"), out = "o",
        rollup = Some(("count", Seq.empty, Some(300L))))
      val pts = Seq(0L, 61000L, 299000L, 301000L).map(t => env("m", Map("h" -> "x"), t, 1.0))
      val rows = RefLoop.batch(Seq(r), 60000L, pts.iterator)
      eq(rows.map(r => r.tsMs -> r.value).toMap, Map(0L -> 3.0, 300000L -> 1.0))
    }

    test("a handover closes the windows its watermark passes, per rule") {
      val s = new RefLoop.Stream(Seq(StreamWorkload.shipped(0)), 1000L, 1000L)
      eq(s.handover(Seq(env("metric0", Map.empty, 100, 1), env("metric0", Map.empty, 850, 1))), Nil)
      eq(s.handover(Seq(env("metric0", Map.empty, 1850, 1))), Nil)
      eq(s.handover(Seq(env("metric0", Map.empty, 2850, 1))).map(r => r.tsMs -> r.value),
        Seq(0L -> 2.0))
    }

    test("generated handovers close exactly window k-2 of every rule") {
      val g = new Gen(7)
      val s = new RefLoop.Stream(StreamWorkload.shipped, 1000L, 1000L)
      (0 until 6).foreach { k =>
        val rows = s.handover(StreamWorkload.handover(g, k).flatMap(_._2))
        val starts = rows.map(_.tsMs).toSet
        if (k < 2) eq(starts, Set.empty[Long])
        else {
          eq(starts, Set(StreamWorkload.BaseMs + (k - 2) * 1000L))
          eq(rows.map(_.name).toSet.size, 5)
        }
      }
    }

    val mapper = new ObjectMapper()
    test("wire JSON parses with Jackson; corrupt lines do not") {
      val e = Env("m \"q\"", Some(Map("k" -> "v\\")), 1700000000250L, 0.125, None, nilAbsent = false, metaForm = 2)
      val n = mapper.readTree(Wire.envelope(e))
      eq(n.get("metric").get("name").asText, "m \"q\"")
      eq(n.get("metric").get("dimensions").get("k").asText, "v\\")
      eq(n.get("metric").get("timestamp").asDouble, 1.70000000025e12)
      eq(n.get("meta").get("region").asText, "r1")
      (0 until 3).foreach { kind =>
        val strict = mapper.readerFor(classOf[JsonNode]).`with`(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
        assert(scala.util.Try(strict.readTree(Wire.corrupt(e, kind))).isFailure, s"corrupt kind $kind parsed")
      }
    }

    test("the checker compares keys and values with a tolerance") {
      val r = RefLoop.Row("o", "t", 0L, Map("h" -> "x"), 1.0)
      eq(Check.compare(Seq(r), Seq(r.copy(value = 1.0 + 1e-12))), None)
      assert(Check.compare(Seq(r), Seq(r.copy(value = 1.001))).isDefined)
      assert(Check.compare(Seq(r), Seq(r, r)).isDefined)
      assert(Check.compare(Seq(r), Nil).isDefined)
      assert(Check.compare(Nil, Seq(r)).isDefined)
    }

    val work = Paths.get(args(0))
    val spark = Main.session(work)
    test("stand-in kafka: the source and sink carry value bytes unchanged") {
      val in = Topics("raw-in")
      val bytes = (0 until 500).map(i => s"""{"i":$i,"b":"é"}""".getBytes(UTF_8))
      in.appendAll(bytes)
      val q = spark.readStream.format("kafka").option("subscribe", "raw-in").load()
        .select("value").writeStream.format("kafka").option("topic", "raw-out")
        .option("checkpointLocation", work.resolve("ck-raw").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = Topics("raw-out").poll(Array.fill(Topics.Partitions)(0L), 0)
      eq(out.map(o => new String(o._1, UTF_8)).sorted, bytes.map(new String(_, UTF_8)).sorted)
      assert(out.forall(_._2 > 0L))
    }

    test("KafkaIO round trip loses nothing but the corrupt lines") {
      val g = new Gen(3)
      val envs = (0 until 400).map(i => env(s"metric${i % 5}", Map("hostname" -> s"h$i"),
        1700000000000L + i, g.value(), Some("tenant-a")))
      val corrupt = (0 until 7).map(i => Wire.corrupt(envs(i), i).getBytes(UTF_8))
      Topics("rt-in").appendAll(envs.map(e => Wire.envelope(e).getBytes(UTF_8)) ++ corrupt)
      val q = KafkaIO.writeEnvelopes(KafkaIO.readEnvelopes(spark, "standin:9092", "rt-in"),
          "standin:9092", "rt-out", work.resolve("ck-rt").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = Topics("rt-out").poll(Array.fill(Topics.Partitions)(0L), 0)
        .map(o => mapper.readTree(o._1)).sortBy(_.get("metric").get("timestamp").asDouble)
      eq(got.size, envs.size)
      got.zip(envs).foreach { case (n, e) =>
        eq(n, mapper.readTree(Wire.envelope(e)))
      }
    }
    spark.stop()

    println(s"$passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
