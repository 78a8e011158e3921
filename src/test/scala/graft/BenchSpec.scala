package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness must stay self-auditing: the baseline reader has to
  * return per-query times, and only those, from the committed records, or
  * the run-count policy and Verify's cheapest-first order key on the wrong
  * numbers without any failure to show it. */
class BenchSpec extends AnyFunSuite {

  test("baseline readers parse exponent-notation times") {
    val dir = java.nio.file.Files.createTempDirectory("benchspec-exp").toFile
    java.nio.file.Files.write(new java.io.File(dir, "BENCH_r01.json").toPath,
      ("""{"parsed": {"queries": {"a1_sum_1d":8.5E-4,"a2":1.5e+2,"a3":2E1,""" +
        """"a4":0.25,"a5":-3.0e-1,"a6":7}}}""").getBytes("UTF-8"))
    val times = Bench.previousRoundTimes(dir.getAbsolutePath)
    assert(times("a1_sum_1d") == 8.5e-4)
    assert(times("a2") == 150.0 && times("a3") == 20.0 && times("a5") == -0.3)
    val fullDir = java.nio.file.Files.createTempDirectory("benchspec-exp2").toFile
    java.nio.file.Files.write(new java.io.File(fullDir, "BENCH_FULL_local.json").toPath,
      """{"queries":{"w1_count_1h":1.25E-3,"f5_multi_rule":2.5}}""".getBytes("UTF-8"))
    assert(Bench.previousRoundTimes(fullDir.getAbsolutePath) ==
      Map("w1_count_1h" -> 1.25e-3, "f5_multi_rule" -> 2.5))
  }

  test("previousRoundTimes reads query times, not calibration factors or " +
      "tail harvests, from records shaped as the committed ones") {
    val dir = java.nio.file.Files.createTempDirectory("benchspec-shapes").toFile
    // BENCH_FULL_local.json: the full queries object, then the calibration
    // map keyed by the same names
    java.nio.file.Files.write(new java.io.File(dir, "BENCH_FULL_local.json").toPath,
      ("""{"metric":"total","value":9.1,"unit":"sec","queries":{""" +
        """"a10_p95_1d":0.587,"mm_meta":0.12,"sample_bernoulli":0.12,""" +
        """"pipeline_e2e":8.1,"text_stats":0.17},"calibration":{""" +
        """"a10_p95_1d":1.02,"mm_meta":0.96,"sample_bernoulli":0.96,""" +
        """"pipeline_e2e":1.01,"text_stats":0.99},"calib_median_sec":0.0308,""" +
        """"sf":"sf0.1","throughput_eps":1126599}""").getBytes("UTF-8"))
    // a driver artifact: the tail's truncated verbose line carries the
    // calibration map; parsed.queries is the compact line's top-N and _other
    java.nio.file.Files.write(new java.io.File(dir, "BENCH_r18.json").toPath,
      ("""{"n": 18, "rc": 0, "cpus": 32, "sf": 0.1, "tail": "_clean\":0.81,""" +
        """\"mm_meta\":0.96,\"sample_bernoulli\":0.96},\"calib_median_sec\":0.0308}\n""" +
        """{\"metric\":\"total\",\"value\":9.0,\"queries\":{\"pipeline_e2e\":7.9}}",""" +
        """ "parsed": {"metric":"total","value":9.0,"unit":"sec","queries":{""" +
        """"pipeline_e2e":7.9,"dedup_ngram":1.5,"text_langid":1.2,""" +
        """"sim_topk":0.9,"graph_pagerank":4.3,"_other+288":2.5},""" +
        """"loadavg":[1.1,1.3],"calib_median_sec":0.0308,"sf":"sf0.1"}}""")
        .getBytes("UTF-8"))
    val t = Bench.previousRoundTimes(dir.getAbsolutePath)
    // not in parsed.queries: the full record's time, whatever the tail holds
    assert(t("mm_meta") == 0.12 && t("sample_bernoulli") == 0.12)
    assert(t("a10_p95_1d") == 0.587 && t("text_stats") == 0.17)
    // in parsed.queries: the newest driver record wins
    assert(t("pipeline_e2e") == 7.9 && t("graph_pagerank") == 4.3)
    // no wrapper, calibration or line-level key reads as a query
    Seq("n", "rc", "cpus", "value", "calib_median_sec", "throughput_eps")
      .foreach(k => assert(!t.contains(k), k))
  }

  test("previousRoundTimes returns empty when no artifact has enough entries") {
    val dir = java.nio.file.Files.createTempDirectory("benchspec2").toFile
    java.nio.file.Files.write(new java.io.File(dir, "BENCH_r01.json").toPath,
      """{"n": 1, "rc": 0}""".getBytes("UTF-8"))
    assert(Bench.previousRoundTimes(dir.getAbsolutePath).isEmpty)
  }

  test("sig3 renders bench-scale values in at most 4 chars, without exponents") {
    assert(Bench.sig3(20.25) == "20.3" || Bench.sig3(20.25) == "20.2")
    assert(Bench.sig3(0.0601234) == "0.06")
    assert(Bench.sig3(123.456) == "123")
    assert(Bench.sig3(-1.0) == "-1")
    assert(Bench.sig3(9.996) == "10.00" || Bench.sig3(9.996).length <= 5)
    Seq(0.001, 0.06, 1.23, 9.49, 20.25, 99.9, 123.4, 999.0).foreach { v =>
      assert(Bench.sig3(v).length <= 5 && !Bench.sig3(v).toLowerCase.contains("e"))
    }
  }

  test("the final line of record fits a 2000-char tail capture with headroom " +
      "at registry size + 10") {
    // worst case: every timing at its widest sig3 rendering (9.999 s →
    // "10.00", 5 chars). The budget is RAW chars: every BENCH_r*.json tail
    // is ~2000 characters of raw stdout. build.sbt suppresses the
    // "[success]" epilogue and the "[info] " prefix, but reserve 120 chars
    // anyway (defense against a driver-side wrapper re-adding one), plus
    // 200 modeled headroom so the guard trips BEFORE the capture does.
    // The registry is modeled 10 queries larger than today: the top-40 cap
    // makes line growth O(topN), so +10 future queries must still fit
    val names = SparkEntry.queries.keys.toSeq.sorted ++
      (1 to 10).map(i => s"future_extension_q$i")
    val line = Bench.compactLine(names.map(_ -> 9.999), topN = 40,
      loadBefore = 31.9, loadAfter = 28.4, contended = false,
      calibMedian = 0.0312, flaggedCount = 249, throttled = false,
      eps = 1126599, epsMin = 136382, sfDir = "/root/testdata/sf0.1",
      partial = true, unsweptCount = 999)
    assert(line.length + 120 + 200 < 2000,
      s"final bench line is ${line.length} raw chars at registry+10 — it " +
        "would truncate in the driver's ~2000-char tail capture")
  }

  test("the final line round-trips through the driver's documented capture: " +
      "tail 2000 chars -> last line -> json-shaped with metric/value/queries") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val results = names.map(_ -> 1.234) :+ ("zz_failed" -> -1.0)
    val finalLine = Bench.compactLine(results, topN = 40,
      loadBefore = 1.5, loadAfter = 3.2, contended = false,
      calibMedian = 0.0312, flaggedCount = 0, throttled = false,
      eps = 1126599, epsMin = 136382, sfDir = "/root/testdata/sf0.1",
      partial = false, unsweptCount = 0)
    // synthetic full stdout: a giant verbose line (overflows any tail),
    // then the final line — as Bench.main prints them
    val stdout = ("x" * 8000) + "\n" + finalLine + "\n"
    val tail = stdout.takeRight(2000)
    val lastLine = tail.split("\n").filter(_.nonEmpty).last
    assert(lastLine == finalLine, "the final line must survive the tail whole")
    assert(lastLine.startsWith("{") && lastLine.endsWith("}"))
    assert(lastLine.contains("\"metric\":\"total\"") &&
      lastLine.contains("\"unit\":\"sec\"") && lastLine.contains("\"queries\":{"))
    // failures never hide inside the _other fold
    assert(lastLine.contains("\"zz_failed\":-1"))
    // structurally valid JSON: balanced braces/brackets, no trailing commas
    assert(lastLine.count(_ == '{') == lastLine.count(_ == '}'))
    assert(lastLine.count(_ == '[') == lastLine.count(_ == ']'))
    assert(!lastLine.contains(",}") && !lastLine.contains(",]"))
  }

  test("calibration flag-and-rerun fires on an injected slow window and " +
      "stays quiet on a clean sweep") {
    // 8 queries → 9 bracketing probes. Clean sweep: all probes 50 ms.
    val names = (1 to 8).map(i => s"q$i")
    val clean = IndexedSeq.fill(9)(0.050)
    assert(Bench.flaggedQueries(names, clean, 1.5).isEmpty)
    // hypervisor throttle window over queries 4–6: probes 4..6 (0-based)
    // run 2.4× slow — exactly the r15 driver-artifact shape. Queries
    // bracketed by ANY hot probe flag: q4 (probes 3,4), q5 (4,5),
    // q6 (5,6), q7 (6,7) — the contiguous cluster the rerun disambiguates
    val window = clean.updated(4, 0.120).updated(5, 0.120).updated(6, 0.120)
    assert(Bench.flaggedQueries(names, window, 1.5) ==
      Seq("q4", "q5", "q6", "q7"))
    // factor math: q1's window is max(p0,p1)/median
    val fs = Bench.calibFactors(window)
    assert(fs.length == 8)
    assert(math.abs(fs(0) - 1.0) < 1e-9 && math.abs(fs(4) - 2.4) < 1e-9)
    // a sweep throttled end-to-end self-normalizes (factors ≈ 1) — the
    // defense there is the ABSOLUTE median recorded in the artifact
    assert(Bench.flaggedQueries(names, IndexedSeq.fill(9)(0.150), 1.5).isEmpty)
    assert(Bench.medianOf(IndexedSeq.fill(9)(0.150)) == 0.150)
    // record stamp: 3+ flags surviving their rerun → throttled
    assert(!Bench.isThrottled(0) && !Bench.isThrottled(2))
    assert(Bench.isThrottled(3))
    // the probe itself: fixed work, returns a positive elapsed time
    assert(Bench.calibrationProbe(1000000L) > 0.0)
  }

  test("previousRoundTimes harvests the full-precision local record first") {
    val dir = java.nio.file.Files.createTempDirectory("verifyspec").toFile
    java.nio.file.Files.write(new java.io.File(dir, "BENCH_FULL_local.json").toPath,
      ("{\"metric\":\"total\",\"value\":260.5,\"unit\":\"sec\",\"queries\":{" +
        "\"a1_sum_1d\":0.25,\"pipeline_e2e\":36.9,\"text_stats\":1.25," +
        "\"sim_topk\":2.7,\"dedup_ngram\":1.5,\"w1_count_1h\":0.5}," +
        "\"sf\":\"/root/testdata/sf0.1\"}").getBytes("UTF-8"))
    val t = Bench.previousRoundTimes(dir.getAbsolutePath)
    assert(t("pipeline_e2e") == 36.9 && t("a1_sum_1d") == 0.25)
    // an absent record falls back (empty dir -> previousRoundTimes -> empty)
    val empty = java.nio.file.Files.createTempDirectory("verifyspec2").toFile
    assert(Bench.previousRoundTimes(empty.getAbsolutePath).isEmpty)
  }

  test("Verify's oracle_sql.json reads back with Jackson as SparkEntry.oracleSql") {
    val dir = java.nio.file.Files.createTempDirectory("verify-oracle").toFile
    Verify.writeOracleSql(dir.getAbsolutePath)
    import scala.jdk.CollectionConverters._
    val back = new com.fasterxml.jackson.databind.ObjectMapper().readValue(
      new java.io.File(dir, "oracle_sql.json"), classOf[java.util.Map[String, String]])
      .asScala.toMap
    assert(back.size == SparkEntry.oracleSql.size)
    SparkEntry.oracleSql.foreach { case (k, v) => assert(back.get(k).contains(v), k) }
  }

  test("budget-exhausted sweep still emits a parseable partial compact line") {
    // the r16 failure mode: driver timeout -> rc 124 -> parsed:null. The
    // budget path must emit the SAME documented shape with partial=true and
    // the unswept COUNT (never the list — the line must stay capture-sized)
    val swept = Seq("a1_sum_1d" -> 0.25, "text_stats" -> 1.2, "zz_fail" -> -1.0)
    val line = Bench.compactLine(swept, topN = 40, loadBefore = 2.0,
      loadAfter = 30.0, contended = false, calibMedian = 0.0360,
      flaggedCount = 1, throttled = false, eps = 500000, epsMin = 400000,
      sfDir = "/root/testdata/sf0.1", partial = true, unsweptCount = 143)
    assert(line.startsWith("{") && line.endsWith("}"))
    assert(line.contains(""""metric":"total"""") && line.contains(""""unit":"sec""""))
    assert(line.contains(""""partial":true,"unswept_count":143"""))
    assert(line.contains(""""queries":{""") && line.contains(""""zz_fail":-1"""))
    assert(line.count(_ == '{') == line.count(_ == '}') && !line.contains(",}"))
    // swept-total only: 0.25 + 1.2 (failure excluded)
    assert(line.contains(""""value":1.45"""))
  }

  test("in-progress record snapshots timings + unswept list and survives an " +
      "atomic rename") {
    val rec = Bench.inProgressRecord(Seq("a1_sum_1d" -> 0.25, "bad" -> -1.0),
      Seq("text_stats", "w1_count_1h"), "/root/testdata/sf0.1")
    assert(rec.contains(""""in_progress":true,"partial":true"""))
    assert(rec.contains(""""unswept":["text_stats","w1_count_1h"]"""))
    assert(rec.contains(""""a1_sum_1d":0.25""") && rec.contains(""""value":0.25"""))
    assert(rec.count(_ == '{') == rec.count(_ == '}') && !rec.contains(",}"))
    val dir = java.nio.file.Files.createTempDirectory("benchatomic").toFile
    val path = new java.io.File(dir, "BENCH_FULL_local.json").getAbsolutePath
    Bench.writeFullRecordAtomic(path, rec)
    Bench.writeFullRecordAtomic(path, rec) // overwrite path (REPLACE_EXISTING)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path)) == rec)
    assert(!new java.io.File(path + ".tmp").exists(), "tmp must be renamed away")
  }

  test("needSecondRun: sub-second previous + clean single run skips run 2") {
    // fast path: prev < 1s and t1 within 3x
    assert(!Bench.needSecondRun(Some(0.25), 0.30))
    assert(!Bench.needSecondRun(Some(0.99), 2.9))
    // slow query always gets min-of-2
    assert(Bench.needSecondRun(Some(1.5), 1.5))
    // no baseline, suspicious run, or failure all fall through
    assert(Bench.needSecondRun(None, 0.1))
    assert(Bench.needSecondRun(Some(0.25), 0.80))
    assert(Bench.needSecondRun(Some(0.25), -1.0))
    assert(Bench.needSecondRun(Some(-1.0), 0.1))
  }
}
