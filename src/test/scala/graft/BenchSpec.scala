package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness must stay self-auditing: the baseline harvester has to
  * recover per-query times from the driver's TRUNCATED tail captures (every
  * BENCH_r1..r9 artifact stored only ~2000 chars of stdout with escaped
  * quotes), or the 3× contention-rerun heuristic silently never fires. */
class BenchSpec extends AnyFunSuite {

  test("previousRoundTimes harvests query times from a truncated escaped tail") {
    val dir = java.nio.file.Files.createTempDirectory("benchspec").toFile
    // mimics the driver wrapper: JSON file whose `tail` value is the escaped
    // LAST chunk of stdout, starting mid-entry like the real artifacts
    val wrapper =
      """{
        |  "n": 9,
        |  "rc": 0,
        |  "cpus": 32,
        |  "sf": 0.1,
        |  "tail": "ivors\":2.667569319,\"dedup_ngram\":1.501970966,\"a1_sum_1d\":0.25,\"w1_count_1h\":0.5,\"text_stats\":1.25,\"sim_topk\":0.125,\"pipeline_e2e\":20.25\"",
        |  "parsed": null
        |}""".stripMargin
    java.nio.file.Files.write(new java.io.File(dir, "BENCH_r09.json").toPath,
      wrapper.getBytes("UTF-8"))
    val times = Bench.previousRoundTimes(dir.getAbsolutePath)
    assert(times("dedup_ngram") == 1.501970966)
    assert(times("pipeline_e2e") == 20.25)
    // wrapper keys are harvested too but can never shadow a query name —
    // lookups at the use site go through real query names only
    assert(times.size >= 7)
  }

  test("baseline readers parse exponent-notation times") {
    val dir = java.nio.file.Files.createTempDirectory("benchspec-exp").toFile
    java.nio.file.Files.write(new java.io.File(dir, "BENCH_r01.json").toPath,
      ("""{"tail": "\"a1_sum_1d\":8.5E-4,\"a2\":1.5e+2,\"a3\":2E1,""" +
        """\"a4\":0.25,\"a5\":-3.0e-1,\"a6\":7\""}""").getBytes("UTF-8"))
    val times = Bench.previousRoundTimes(dir.getAbsolutePath)
    assert(times("a1_sum_1d") == 8.5e-4)
    assert(times("a2") == 150.0 && times("a3") == 20.0 && times("a5") == -0.3)
    val full = new java.io.File(dir, "BENCH_FULL_local.json")
    java.nio.file.Files.write(full.toPath,
      """{"queries":{"w1_count_1h":1.25E-3,"f5_multi_rule":2.5}}""".getBytes("UTF-8"))
    assert(Bench.fullRecordTimes(full) ==
      Map("w1_count_1h" -> 1.25e-3, "f5_multi_rule" -> 2.5))
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

  test("ms renders the compact-line integer milliseconds, keeping the -1 marker") {
    assert(Bench.ms(0.2104) == "210")
    assert(Bench.ms(1.2345) == "1235" && Bench.ms(20.25) == "20250")
    assert(Bench.ms(-1.0) == "-1")
  }

  test("compactQueries groups ≥3-member families and round-trips exactly") {
    val in = Seq("text_stats" -> 0.21, "text_langid" -> 1.2, "text_pii" -> 0.05,
      "a1_sum_1d" -> 0.1, "a2_count_1d" -> 0.2, "w1_count_1h" -> -1.0)
    val s = Bench.compactQueries(in)
    // text_* folds (3 members); a*/w* families are <3 and stay flat
    assert(s.contains(""""text":{"langid":1200,"pii":50,"stats":210}"""), s)
    assert(s.contains(""""a1_sum_1d":100""") && s.contains(""""w1_count_1h":-1"""), s)
    // valid JSON shape: balanced braces, no trailing commas
    assert(s.count(_ == '{') == s.count(_ == '}') && !s.contains(",}"), s)
  }

  test("compactQueries caps at topN slowest, folding the rest into family sums") {
    val in = Seq("text_stats" -> 0.2, "text_langid" -> 1.2, "text_pii" -> 0.05,
      "text_norm" -> 0.01, "a1_sum_1d" -> 0.1, "a2_count_1d" -> 9.0,
      "w1_count_1h" -> -1.0)
    val s = Bench.compactQueries(in, topN = 2)
    // top-2 slowest = a2 (9.0), text_langid (1.2); the failure ALWAYS shows
    assert(s.contains(""""langid":1200"""), s)
    assert(s.contains(""""a2_count_1d":9000"""), s)
    assert(s.contains(""""w1_count_1h":-1"""), s)
    // the three unlisted text_* queries fold into one "+3" sum (260 ms)
    assert(s.contains(""""+3":260"""), s)
    // flat-family rest entry carries the family prefix
    assert(!s.contains("a1_sum_1d") && s.contains(""""a1+1":100"""), s)
    assert(s.count(_ == '{') == s.count(_ == '}') && !s.contains(",}"), s)
    // default topN keeps every entry individually (legacy behavior)
    assert(Bench.compactQueries(in).contains(""""stats":200"""))
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

  test("Verify.fullBenchTimes harvests the full-precision local record first") {
    val dir = java.nio.file.Files.createTempDirectory("verifyspec").toFile
    java.nio.file.Files.write(new java.io.File(dir, "BENCH_FULL_local.json").toPath,
      ("{\"metric\":\"total\",\"value\":260.5,\"unit\":\"sec\",\"queries\":{" +
        "\"a1_sum_1d\":0.25,\"pipeline_e2e\":36.9,\"text_stats\":1.25," +
        "\"sim_topk\":2.7,\"dedup_ngram\":1.5,\"w1_count_1h\":0.5}," +
        "\"sf\":\"/root/testdata/sf0.1\"}").getBytes("UTF-8"))
    val t = Verify.fullBenchTimes(dir.getAbsolutePath)
    assert(t("pipeline_e2e") == 36.9 && t("a1_sum_1d") == 0.25)
    // an absent record falls back (empty dir -> previousRoundTimes -> empty)
    val empty = java.nio.file.Files.createTempDirectory("verifyspec2").toFile
    assert(Verify.fullBenchTimes(empty.getAbsolutePath).isEmpty)
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
