package graft

import graft.functions.FunctionCatalog
import graft.model.{AggregationSpec, Metric, MetricEnvelope, RollupSpec}
import graft.operators.Sampling
import graft.plan.RuleCompiler
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, forAllNoShrink}

/** ScalaCheck property tests (SURVEY.md §5.3): window-index alignment for
  * arbitrary timestamps and sizes, aggregate functions vs naive folds,
  * rollup/direct composition, and sampling-hash range/determinism. Each
  * property executes a real Spark job per case, so case counts are kept
  * deliberately small.
  */
object PropertySpec extends Properties("graft") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  // integer-valued epoch-ms doubles up to year ~2100 (the wire type is a
  // float64 of milliseconds, SURVEY §1.1)
  private val genTsMs: Gen[Double] =
    Gen.choose(0L, 4102444800000L).map(_.toDouble)
  private val genValue: Gen[Double] =
    Gen.choose(-1000000L, 1000000L).map(_ / 100.0)
  private val genPoints: Gen[List[(Double, Double)]] =
    Gen.nonEmptyListOf(Gen.zip(genValue, genTsMs))

  property("window assignment is epoch-aligned: start == floor(ts/1000·size)·size ∀ ts, size") =
    forAll(Gen.nonEmptyListOf(genTsMs), Gen.choose(1L, 172800L)) { (tss, size) =>
      val got = tss.toDF("ts_ms")
        .select((col("ts_ms") / 1000).cast("timestamp").as("event_ts"), col("ts_ms"))
        .select(window(col("event_ts"), s"$size seconds").getField("start")
          .cast("long").as("w"), col("ts_ms"))
        .as[(Long, Double)].collect()
      got.forall { case (w, ts) =>
        w == math.floor(ts / (1000.0 * size)).toLong * size
      }
    }

  property("sum/count/avg/min/max match naive folds over any window") =
    forAll(genPoints) { pts =>
      val df = pts.toDF("value", "ts_ms")
      val Seq(s, c, a, mn, mx) = Seq("sum", "count", "avg", "min", "max").map { f =>
        df.select(FunctionCatalog.aggregate(f, col("value"), col("ts_ms")))
          .as[Double].head()
      }
      val vs = pts.map(_._1)
      def close(x: Double, y: Double) = math.abs(x - y) <= 1e-6 * math.max(1.0, math.abs(y))
      close(s, vs.sum) && c == vs.size.toDouble && close(a, vs.sum / vs.size) &&
        mn == vs.min && mx == vs.max
    }

  property("delta/rate match the event-time-sorted (ts, value) first/last model") =
    forAll(genPoints) { pts =>
      val df = pts.toDF("value", "ts_ms")
      val d = df.select(FunctionCatalog.aggregate("delta", col("value"), col("ts_ms")))
        .as[Double].head()
      val r = df.select(FunctionCatalog.aggregate("rate", col("value"), col("ts_ms")))
        .as[Double].head()
      // the engine's deterministic order: lexicographic (ts, value)
      val sorted = pts.map { case (v, t) => (t, v) }.sorted
      val span = sorted.last._1 - sorted.head._1
      val expD = sorted.last._2 - sorted.head._2
      val expR = if (span == 0) 0.0 else expD / (span / 1000.0)
      d == expD && (r == expR || math.abs(r - expR) <= 1e-9 * math.abs(expR))
    }

  // rollup(sum of per-group sums) == direct sum: compose through the full
  // RuleCompiler path with a grouped stage and a sum rollup over no dims
  property("sum-rollup of per-group sums equals the ungrouped direct sum") =
    forAll(Gen.nonEmptyListOf(
      Gen.zip(genValue, genTsMs, Gen.oneOf("a", "b", "c")))) { pts =>
      val envs = pts.map { case (v, ts, g) =>
        MetricEnvelope(Metric("m", Map("g" -> g), ts, v, Map.empty),
          Map("tenantId" -> "t"), 0L)
      }
      val df = envs.toDF()
      def spec(roll: Option[RollupSpec], dims: Seq[String]) = AggregationSpec(
        name = "p", function = "sum", filteredMetricName = "m",
        groupedDimensions = dims, aggregatedMetricName = "out", rollup = roll)
      val viaRollup = RuleCompiler.compileGrouped(
        spec(Some(RollupSpec("sum", Seq.empty)), Seq("g")), 86400L)(df)
        .select(col("w.start").cast("long"), col("agg_value"))
        .as[(Long, Double)].collect().toMap
      val direct = RuleCompiler.compileGrouped(spec(None, Seq.empty), 86400L)(df)
        .select(col("w.start").cast("long"), col("agg_value"))
        .as[(Long, Double)].collect().toMap
      viaRollup.keySet == direct.keySet && viaRollup.forall { case (k, v) =>
        math.abs(v - direct(k)) <= 1e-6 * math.max(1.0, math.abs(direct(k)))
      }
    }

  // rule match: the one-plan stage 1 (a match-table lookup on the metric
  // name, one generic predicate over the rule's operands) against
  // matchPredicate rule by rule. Three keys over two values make keys both
  // filtered and grouped, absent grouped keys and "" rejects common; a third
  // of the key sets are empty, so rules that only reject meet nil maps.
  private val dimKeys = Seq("a", "b", "c")
  private val genKeys: Gen[Seq[String]] =
    Gen.frequency(1 -> Gen.const(Nil), 2 -> Gen.someOf(dimKeys).map(_.toSeq))
  private def genDims(values: Gen[String]): Gen[Map[String, String]] =
    genKeys.flatMap(ks => Gen.listOfN(ks.size, values).map(vs => ks.zip(vs).toMap))
  private val genRule: Gen[AggregationSpec] = for {
    metric <- Gen.oneOf("m0", "m1")
    filtered <- genDims(Gen.oneOf("x", "y"))
    rejected <- genDims(Gen.oneOf("x", "y", ""))
    grouped <- genKeys
    reversed <- Gen.oneOf(true, false)
  } yield AggregationSpec(name = "", function = "count", filteredMetricName = metric,
    filteredDimensions = filtered, rejectedDimensions = rejected,
    groupedDimensions = if (reversed) grouped.reverse else grouped,
    aggregatedMetricName = "out")
  // nil dimensions, and JSON-null values
  private val genEnvelope: Gen[(String, Map[String, String])] = Gen.zip(
    Gen.oneOf("m0", "m1", "m2"),
    Gen.frequency(1 -> Gen.const(null), 3 -> genDims(Gen.oneOf("x", "y", null))))

  property("the table-driven match selects the (envelope, rule, grouped values) " +
      "matchPredicate selects rule by rule ∀ rules/envelopes") =
    // no shrinking: the shrinker cannot shrink a nil (null) dimension map
    forAllNoShrink(Gen.nonEmptyListOf(genRule).map(_.take(6)),
        Gen.listOf(genEnvelope).map(_.take(40))) {
      (rules0, envs) =>
        val rules = rules0.zipWithIndex.map { case (r, i) => r.copy(name = s"r$i") }
        // the envelope's index rides in its value
        val df = envs.zipWithIndex.map { case ((name, dims), i) =>
          MetricEnvelope(Metric(name, dims, 0.0, i.toDouble, Map.empty), Map("tenantId" -> "t"), 0L)
        }.toDF()
        val tabled = RuleCompiler.matchRules(rules.map(_ -> 1L))(df)
          .select($"value", $"rule", $"keys").as[(Double, String, Seq[String])].collect()
        val reference = rules.map(r => df.filter(RuleCompiler.matchPredicate(r))
            .select($"metric.value", lit(r.name), $"metric.dimensions"))
          .reduce(_ union _).as[(Double, String, Map[String, String])].collect()
          .map { case (v, name, dims) =>
            (v, name, rules.find(_.name == name).get.groupedDimensions.map(dims(_)))
          }
        tabled.toSeq.sortBy(_.toString) == reference.toSeq.sortBy(_.toString)
    }

  property("sessionization equals the naive sorted islands fold") =
    forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(0L, 100000L), genValue)), Gen.choose(1L, 1000L)) { (pts, gap) =>
      val envs = pts.map { case (tsSec, v) =>
        MetricEnvelope(Metric("m", Map("user_id" -> "u"), tsSec * 1000.0, v, Map.empty),
          Map("tenantId" -> "t"), 0L)
      }
      val got = graft.operators.Sessions.sessionize(envs.toDF(), gap)
        .select(col("session_start_us"), col("n_events"))
        .as[(Long, Long)].collect().toMap
      // naive: sort, split where diff > gap (touching sessions merge)
      val sorted = pts.map(_._1).sorted
      val sessions = sorted.tail.foldLeft(List(List(sorted.head))) { (acc, t) =>
        if (t - acc.head.head > gap) List(t) :: acc
        else (t :: acc.head) :: acc.tail
      }
      val expected = sessions.map(s => (s.min * 1000000L, s.size.toLong)).toMap
      got == expected
    }

  property("sampling hash stays in [0, Buckets) and is seed-deterministic ∀ id") =
    forAll(Gen.nonEmptyListOf(Gen.long), Gen.long) { (ids, seed) =>
      val df = ids.toDF("id")
      val b1 = df.select(Sampling.hashBucket(col("id"), seed)).as[Long].collect()
      val b2 = df.select(Sampling.hashBucket(col("id"), seed)).as[Long].collect()
      b1.forall(b => b >= 0 && b < Sampling.Buckets) && b1.sameElements(b2)
    }

  property("line dedup equals the naive df model ∀ corpus and cap") =
    forAll(
      Gen.nonEmptyListOf(Gen.listOf(
        // interleaves CRLF endings (bb\r, \r\n), \t/\f-only and empty lines:
        // the WsClass normalization must agree with the model on all of them
        Gen.oneOf("aa", "bb", "cc", "dd dd", " aa ", "\taa", "bb\r", "", "  ",
          "\r", "\t", " \t ", "\r\n", "ee"))),
      Gen.choose(1L, 4L)) { (docLines, cap) =>
      val corpus = docLines.zipWithIndex.map { case (ls, i) => (i.toLong, ls.mkString("\n")) }
      val got = graft.operators.Dedup.dedupLines(corpus.toDF("doc_id", "text"), cap)
        .as[(Long, String, Long, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
      // naive model: trim by the engine whitespace class (NOT String.trim —
      // the operator normalizes CRLF/tab padding), drop empties, df = docs
      // containing the line
      val wsTrim = "^[\\t\\n\\f\\r ]+|[\\t\\n\\f\\r ]+$"
      val norm: Map[Long, Seq[String]] = corpus.map { case (id, text) =>
        id -> text.split("\n", -1).toSeq.map(_.replaceAll(wsTrim, "")).filter(_.nonEmpty)
      }.toMap
      val hot = norm.values.flatMap(_.distinct).groupBy(identity)
        .collect { case (l, occ) if occ.size > cap => l }.toSet
      val expected = norm.map { case (id, lines) =>
        val kept = lines.filterNot(hot)
        id -> ((kept.mkString("\n"), kept.size.toLong, (lines.size - kept.size).toLong))
      }
      got == expected
    }

  property("line dedup (keepEmptyLines) equals the naive model ∀ blank/CRLF-heavy corpus") =
    forAll(
      Gen.nonEmptyListOf(Gen.listOf(
        Gen.oneOf("aa", "bb", "dd dd", " aa ", "\taa", "bb\r", "", "  ",
          "\r", "\t", " \t ", "\r\n", "ee"))),
      Gen.choose(1L, 4L)) { (docLines, cap) =>
      val corpus = docLines.zipWithIndex.map { case (ls, i) => (i.toLong, ls.mkString("\n")) }
      val got = graft.operators.Dedup
        .dedupLines(corpus.toDF("doc_id", "text"), cap, keepEmptyLines = true)
        .as[(Long, String, Long, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
      // naive model: trim by the whitespace class, keep empties in the
      // rebuild, hot/counts range over non-empty lines only
      val wsTrim = "^[\\t\\n\\f\\r ]+|[\\t\\n\\f\\r ]+$"
      val norm: Map[Long, Seq[String]] = corpus.map { case (id, text) =>
        id -> text.split("\n", -1).toSeq.map(_.replaceAll(wsTrim, ""))
      }.toMap
      val hot = norm.values.flatMap(_.filter(_.nonEmpty).distinct).groupBy(identity)
        .collect { case (l, occ) if occ.size > cap => l }.toSet
      val expected = norm.map { case (id, lines) =>
        val kept = lines.filterNot(hot) // empties are never hot
        val keptNE = kept.count(_.nonEmpty).toLong
        id -> ((kept.mkString("\n"), keptNE,
          lines.count(_.nonEmpty).toLong - keptNE))
      }
      got == expected
    }

  property("contamination scores equal the naive distinct-shingle overlap ∀ corpus/benchmark") =
    forAll(
      Gen.nonEmptyListOf(Gen.listOf(Gen.oneOf("a", "b", "c", "d"))),
      Gen.nonEmptyListOf(Gen.listOf(Gen.oneOf("a", "b", "c", "d")))) { (corpusToks, benchToks) =>
      // model of Dedup.wordShingles: distinct n-grams with the engine-wide
      // one-short-shingle convention for texts shorter than n tokens
      def shingles(text: String, n: Int): Seq[String] = {
        val toks = text.trim.split("[\\t\\n\\f\\r ]+", -1).toSeq
        val count = math.max(toks.length - n + 1, 1)
        (0 until count)
          .map(i => toks.slice(i, math.min(i + n, toks.length)).mkString(" "))
          .distinct
      }
      val corpus = corpusToks.zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      val bench = benchToks.zipWithIndex.map { case (ts, i) => (1000L + i, ts.mkString(" ")) }
      val got = graft.operators.Dedup.contaminationScores(
          corpus.toDF("doc_id", "text"), bench.toDF("doc_id", "text"), 2)
        .as[(Long, Long, Long, Double)].collect()
        .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
      val benchSet = bench.flatMap(b => shingles(b._2, 2)).toSet
      val expected = corpus.map { case (id, text) =>
        val sh = shingles(text, 2)
        val shared = sh.count(benchSet).toLong
        id -> ((sh.size.toLong, shared,
          if (sh.nonEmpty) shared.toDouble / sh.size else 0.0))
      }.toMap
      got == expected
    }

  property("duplicated-span stats equal the naive interval-union model ∀ corpus") =
    forAll(Gen.nonEmptyListOf(Gen.listOf(Gen.oneOf("a", "b", "c")))) { corpusToks =>
      val k = 3
      val corpus = corpusToks.zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      val got = graft.operators.TextAnalysis.dupSpanStats(corpus.toDF("doc_id", "text"), k)
        .as[(Long, Long, Long, Long, Double)].collect()
        .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
      // naive model: LM tokenization, cross-doc df on the shingle STRING
      // (the operator keys on the 64-bit hash — collisions immaterial here),
      // coverage = union of the duplicated [pos, pos+k) intervals
      val toks: Map[Long, Seq[String]] = corpus.map { case (id, text) =>
        val t = text.toLowerCase.replaceAll("^[\\t\\n\\f\\r ]+|[\\t\\n\\f\\r ]+$", "")
        id -> (if (t.isEmpty) Seq.empty else t.split("[\\t\\n\\f\\r ]+", -1).toSeq)
      }.toMap
      val shinglesOf: Map[Long, Seq[(Int, String)]] = toks.map { case (id, ts) =>
        id -> (0 to ts.length - k).map(i => i -> ts.slice(i, i + k).mkString(" "))
      }
      val dupSet = shinglesOf.toSeq.flatMap { case (id, sh) => sh.map(_._2).distinct.map(id -> _) }
        .groupBy(_._2).collect { case (s, occ) if occ.size >= 2 => s }.toSet
      val expected = corpus.map { case (id, _) =>
        val n = toks(id).length
        val dupPos = shinglesOf(id).collect { case (p, s) if dupSet(s) => p }
        val covered = dupPos.zipAll(dupPos.drop(1).map(Some(_)), -1, None)
          .map { case (p, nx) => math.min(k, nx.map(_ - p).getOrElse(k)) }.sum.toLong
        id -> ((n.toLong, dupPos.size.toLong, covered,
          if (n > 0) covered.toDouble / n else 0.0))
      }.toMap
      // the CUT operator against the same model: survivors are the tokens
      // outside every duplicated [pos, pos+k) interval, in order
      val gotCut = graft.operators.TextAnalysis
        .removeDupSpans(corpus.toDF("doc_id", "text"), k)
        .as[(Long, String, Long, Long, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
      val expectedCut = corpus.map { case (id, _) =>
        val ts = toks(id)
        val dupPos = shinglesOf(id).collect { case (p, s) if dupSet(s) => p }
        val kept = ts.zipWithIndex.collect {
          case (t, j) if !dupPos.exists(p => p <= j && j < p + k) => t
        }
        id -> ((kept.mkString(" "), ts.length.toLong, kept.length.toLong,
          (ts.length - kept.length).toLong))
      }.toMap
      got == expected && gotCut == expectedCut
    }

  property("semantic pairs ⊆ brute-force pairs ∀ corpus/nLists/threshold; nLists=1 ⇒ equality") =
    forAll(
      Gen.nonEmptyListOf(Gen.listOfN(4, Gen.choose(-1.0, 1.0).map(_.toFloat))),
      Gen.choose(1, 3), Gen.choose(0.0, 0.9)) { (vecs, nLists, thr) =>
      val df = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
      val brute = graft.operators.Dedup.embeddingPairs(df, thr)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val sem = graft.operators.Dedup.semanticPairs(df, thr, nLists)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      // cell bucketing may only MISS boundary-straddling pairs, never invent
      // them — and with a single cell there is no boundary to straddle
      sem.subsetOf(brute) && (nLists != 1 || sem == brute)
    }

  property("export shuffle is a bijection onto dense per-shard positions ∀ ids/shards/seed") =
    forAll(Gen.nonEmptyListOf(Gen.choose(-1000000L, 1000000L)).map(_.distinct),
        Gen.choose(1, 7), Gen.choose(0L, 1000L)) { (ids, shards, seed) =>
      val out = Sampling.shuffleOrder(ids.toDF("doc_id"), "doc_id", shards, seed)
        .as[(Long, Long, Long)].collect()
      out.length == ids.size && out.map(_._1).toSet == ids.toSet &&
        out.groupBy(_._2).forall { case (s, rows) =>
          s >= 0 && s < shards &&
            rows.map(_._3).sorted.toSeq == (0L until rows.length)
        }
    }

  // texts deliberately include empty, whitespace-only (space/tab/newline/FF
  // mixes) and edge-whitespace-wrapped docs — the corpus class the round-9
  // dropEmpty bug shipped on because no generator covered it
  private val exportTextGen = Gen.oneOf("", " ", " \t ", "\n\r", "\f", "a",
    "a b", "\ta zz\n", "w1 w2 w3 w4 w5", "x y", "b\fc", " a b c ")

  // the engine tokenization model: set-trim the [\t\n\f\r ] class, split on
  // the same class (NOT String.trim, which also eats U+000B and NULs)
  private def modelTokens(t: String): Int = {
    val tr = t.replaceAll("^[\\t\\n\\f\\r ]+|[\\t\\n\\f\\r ]+$", "")
    if (tr.isEmpty) 0 else tr.split("[\\t\\n\\f\\r ]+", -1).length
  }

  property("pack positions are the exclusive token prefix sum — gapless per shard ∀ corpus/budget/shards/seed") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(-10000L, 10000L), exportTextGen))
        .map(_.distinctBy(_._1)),
      Gen.choose(1L, 7L), Gen.choose(1, 4), Gen.choose(0L, 100L)) { (rows, budget, shards, seed) =>
      val out = Sampling.packSequences(rows.toDF("doc_id", "text"), "doc_id",
          graft.operators.TextAnalysis.tokenCount(col("text")), budget, shards, seed)
        .select("doc_id", "shard", "seq_id", "tok_offset")
        .as[(Long, Long, Long, Long)].collect()
      val counts = rows.map(r => r._1 -> modelTokens(r._2).toLong).toMap
      val surviving = rows.filter(r => counts(r._1) > 0)
      // exactly the positive-token docs are packed (empties NEVER packed) …
      out.length == surviving.size && out.map(_._1).toSet == surviving.map(_._1).toSet &&
        // … and within each shard, ordered by id, seq_id·budget + tok_offset
        // IS the exclusive prefix sum of the surviving token counts — no gap,
        // no overlap, first doc at 0
        out.groupBy(_._2).forall { case (_, g) =>
          val sorted = g.sortBy(_._1).toSeq
          val prefixes = sorted.map(r => r._3 * budget + r._4)
          prefixes == sorted.map(r => counts(r._1)).scanLeft(0L)(_ + _).init
        }
    }

  property("whole-doc packing replays the greedy overflow-reset model ∀ corpus/budget/shards/seed") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(-10000L, 10000L), exportTextGen))
        .map(_.distinctBy(_._1)),
      Gen.choose(1L, 7L), Gen.choose(1, 4), Gen.choose(0L, 100L)) { (rows, budget, shards, seed) =>
      val out = Sampling.packSequencesWhole(rows.toDF("doc_id", "text"), "doc_id",
          graft.operators.TextAnalysis.tokenCount(col("text")), budget, shards, seed)
        .select("doc_id", "shard", "seq_id", "tok_offset")
        .as[(Long, Long, Long, Long)].collect()
      val counts = rows.map(r => r._1 -> modelTokens(r._2).toLong).toMap
      val surviving = rows.filter(r => counts(r._1) > 0)
      // empties never packed, every surviving doc placed exactly once …
      out.length == surviving.size && out.map(_._1).toSet == surviving.map(_._1).toSet &&
        // … and each shard's (seq_id, tok_offset) assignment IS the greedy
        // scan: place in id order, roll to a fresh sequence on overflow,
        // admit an over-budget doc only at fill 0
        out.groupBy(_._2).forall { case (_, g) =>
          val sorted = g.sortBy(_._1).toSeq
          var seq = 0L; var fill = 0L
          sorted.forall { r =>
            val n = counts(r._1)
            if (fill > 0 && fill + n > budget) { seq += 1L; fill = 0L }
            val ok = r._3 == seq && r._4 == fill
            fill += n
            ok
          }
        }
    }

  property("materialization conserves the surviving token total (text AND token ids) ∀ corpus/budget/shards/seed") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(-10000L, 10000L), exportTextGen))
        .map(_.distinctBy(_._1)),
      Gen.choose(1L, 7L), Gen.choose(1, 4), Gen.choose(0L, 100L)) { (rows, budget, shards, seed) =>
      val packed = Sampling.packSequences(rows.toDF("doc_id", "text"), "doc_id",
        graft.operators.TextAnalysis.tokenCount(col("text")), budget, shards, seed)
      val total = rows.map(r => modelTokens(r._2).toLong).sum
      val nSurviving = rows.count(r => modelTokens(r._2) > 0)
      // token-id path: one id per input token, every surviving doc counted once
      val idSeqs = Sampling.materializeTokenIds(packed, Map("a" -> 0L, "b" -> 1L), 77L)
        .as[(Long, Long, Long, Seq[Long])].collect()
      // text path: re-tokenizing the whitespace-joined sequences finds the
      // same total (sep " " adds no tokens, edge whitespace collapses)
      val txtSeqs = Sampling.materializeSequences(packed, sep = " ")
        .as[(Long, Long, Long, String)].collect()
      idSeqs.map(_._4.length.toLong).sum == total &&
        idSeqs.map(_._3).sum == nSurviving &&
        txtSeqs.map(s => modelTokens(s._4).toLong).sum == total &&
        txtSeqs.map(_._3).sum == nSurviving
    }

  property("upsample copies equal the floor+hash-gate model ∀ ids/rates/seed") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(-100000L, 100000L),
        Gen.oneOf("s1", "s2", "s3"))).map(_.distinctBy(_._1)),
      Gen.mapOf(Gen.zip(Gen.oneOf("s1", "s2"),
        Gen.oneOf(0.0, 0.25, 0.5, 1.0, 1.5, 2.5, 3.0))),
      Gen.choose(0L, 500L)) { (rows, rates, seed) =>
      val out = Sampling.upsample(rows.toDF("doc_id", "source"), "source",
          rates, "doc_id", defaultRate = 1.0, seed)
        .as[(Long, String, Long)].collect()
      val hashes = rows.map(_._1).toDF("doc_id")
        .select(col("doc_id"), Sampling.hashBucket(col("doc_id"), seed))
        .as[(Long, Long)].collect().toMap
      val expected = rows.flatMap { case (id, src) =>
        val r = rates.getOrElse(src, 1.0)
        val n = math.floor(r).toLong +
          (if (hashes(id) < ((r - math.floor(r)) * Sampling.Buckets).toLong) 1L else 0L)
        (0L until n).map(c => (id, src, c))
      }
      out.sorted.toSeq == expected.sorted
    }

  property("priority survivors equal the naive argmin-(rank, id) model ∀ corpus/priority") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(
        Gen.choose(0L, 60L),
        Gen.oneOf("a b", "a  B ", "c", "d e f", " C ", "b"),
        Gen.oneOf("s1", "s2", "s3", "s4"))).map(_.distinctBy(_._1)),
      Gen.oneOf(Seq("s2"), Seq("s3", "s1"), Seq("s4", "s2", "s1"),
        Seq("s1", "s2", "s3", "s4"))) { (rows, prio) =>
      def norm(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
      def rank(src: String) = prio.indexOf(src) match {
        case -1 => prio.size + 1
        case i  => i + 1
      }
      val expected = rows.groupBy(r => norm(r._2)).values
        .map(g => g.minBy(r => (rank(r._3), r._1))._1).toSet
      val got = graft.operators.Dedup
        .prioritySurvivors(rows.toDF("doc_id", "text", "source"), prio)
        .select("doc_id").as[Long].collect().toSet
      got == expected
    }

  property("as-of join equals the naive nearest-(rt, eid) model ∀ rows/tolerance/direction") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 60L)))
        .map(_.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }),
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 60L)))
        .map(_.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong, i * 1.5) }),
      Gen.oneOf(-1L, 5L, 20L, 100L),
      Gen.oneOf("backward", "forward", "nearest")) { (lefts, rights, tol, dir) =>
      val expected = lefts.map { case (id, k, t) =>
        val backC = rights.filter { case (rk, rt, _, _) =>
          rk == k && rt <= t && (tol < 0 || rt >= t - tol) }
        val fwdC = rights.filter { case (rk, rt, _, _) =>
          rk == k && rt >= t && (tol < 0 || rt <= t + tol) }
        val b = backC.maxByOption { case (_, rt, eid, _) => (rt, eid) }
        val f = fwdC.minByOption { case (_, rt, eid, _) => (rt, eid) }
        id -> (dir match {
          case "backward" => b.map(_._4)
          case "forward"  => f.map(_._4)
          case "nearest"  => (b, f) match {
            case (Some(bb), Some(ff)) =>
              Some(if (t - bb._2 <= ff._2 - t) bb._4 else ff._4)
            case _ => b.orElse(f).map(_._4)
          }
        })
      }.toMap
      val got = graft.operators.Relational.asofJoin(
          lefts.toDF("id", "k", "t"), rights.toDF("k", "rt", "eid", "v"),
          "k", "t", "rt", payload = Seq("v"), rightTieBreak = "eid",
          toleranceUs = tol, direction = dir)
        .select("id", "asof_v").as[(Long, Option[Double])].collect().toMap
      got == expected
    }

  property("time-split as-of equals the unsalted as-of row-for-row ∀ rows/tolerance/direction/chunk") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 60L)))
        .map(_.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }),
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 60L)))
        .map(_.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong, i * 1.5) }),
      Gen.oneOf(-1L, 5L, 20L, 100L),
      Gen.oneOf("backward", "forward"),
      // chunk 1 = every row its own chunk (all matches cross boundaries),
      // chunk 7 = boundaries misaligned with the data grid, 1000 = one chunk
      Gen.oneOf(1L, 7L, 13L, 1000L)) { (lefts, rights, tol, dir, chunk) =>
      def run(f: => org.apache.spark.sql.DataFrame) =
        f.select("id", "asof_rt", "asof_v")
          .as[(Long, Option[Long], Option[Double])].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
      val want = run(graft.operators.Relational.asofJoin(
        lefts.toDF("id", "k", "t"), rights.toDF("k", "rt", "eid", "v"),
        "k", "t", "rt", payload = Seq("v"), rightTieBreak = "eid",
        toleranceUs = tol, direction = dir))
      val got = run(graft.operators.Relational.asofJoinTimeSplit(
        lefts.toDF("id", "k", "t"), rights.toDF("k", "rt", "eid", "v"),
        "k", "t", "rt", payload = Seq("v"), rightTieBreak = "eid",
        chunkUs = chunk, toleranceUs = tol, direction = dir))
      got == want
    }

  property("zValueN at 2 dims × 31 bits is bit-identical to the mask-spread zValue ∀ x/y") =
    forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(0L, 0x7fffffffL), Gen.choose(0L, 0x7fffffffL)))) { xs =>
      val rows = xs.toDF("x", "y")
      val both = rows.select(
        graft.operators.Layout.zValue(col("x"), col("y")).as("a"),
        graft.operators.Layout.zValueN(Seq(col("x"), col("y")), 31).as("b"))
        .as[(Long, Long)].collect()
      both.forall { case (a, b) => a == b }
    }

  property("fixed-point PageRank equals the naive power-iteration model ∀ graphs/iters") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 4L),
        Gen.choose(1L, 5L))),
      Gen.oneOf(1, 2, 3)) { (rawEdges, iters) =>
      // pre-aggregate parallel edges (pageRank's input contract)
      val edges = rawEdges.groupBy(e => (e._1, e._2))
        .map { case ((s, d), es) => (s, d, es.map(_._3).sum) }.toSeq
      val scale = 1L << 20
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val out = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
      val base = (100L - 85L) * scale / 100L
      var r = nodes.map(_ -> scale).toMap
      for (_ <- 1 to iters) {
        val dang = nodes.filterNot(out.contains).map(r).sum
        val contrib = edges.groupBy(_._2).map { case (d, es) =>
          d -> es.map { case (s, _, w) => r(s) * w / out(s) }.sum }
        r = nodes.map(v => v ->
          (base + 85L * (contrib.getOrElse(v, 0L) + dang / nodes.size) / 100L)).toMap
      }
      val got = graft.operators.Graph.pageRank(
          edges.toDF("src", "dst", "w"), iters)
        .as[(Long, Long)].collect().toMap
      got == r
    }

  property("histogram quantiles equal the naive bin model and bracket the exact rank ∀ values/q") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 2L),
        Gen.choose(-50L, 700L).map(_ / 1.0))),
      Gen.oneOf(0.5, 0.9, 0.95, 1.0)) { (rows, q) =>
      val (lo, width, bins) = (0.0, 10.0, 64)
      def binOf(v: Double) =
        math.min(math.max(math.floor((v - lo) / width), 0), bins - 1.0).toLong
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val cnt = rs.groupBy(r => binOf(r._2)).view.mapValues(_.size.toLong)
        val n = rs.size.toLong
        val target = math.ceil(q * n).toLong
        var cum = 0L
        val edge = cnt.toSeq.sortBy(_._1).collectFirst {
          case (b, c) if { cum += c; cum >= target } => lo + b * width
        }.get
        g -> edge
      }
      val got = graft.operators.Sketches.histQuantiles(
          rows.toDF("g", "v"), Seq("g"), "v", lo, width, bins, Seq(q))
        .as[(Long, Double)].collect().toMap
      // the model edge must also bracket the exact rank-ceil(q·n) value
      // when that value lies inside the layout (clamped bins excepted)
      val brackets = rows.groupBy(_._1).forall { case (g, rs) =>
        val exact = rs.map(_._2).sorted.apply(
          math.ceil(q * rs.size).toInt - 1)
        exact < lo || exact >= lo + bins * width ||
          (want(g) <= exact && exact < want(g) + width)
      }
      got == want && brackets
    }

  property("KMV distinct estimate equals the naive bottom-k model ∀ ids/k/seed") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 300L))),
      Gen.oneOf(2, 4, 16, 64),
      Gen.choose(Long.MinValue, Long.MaxValue)) { (rows, k, seed) =>
      // the model replays hashRaw's arithmetic independently, so the
      // property also re-verifies the column expression — not just the
      // bottom-k/estimator plumbing
      def pm(x: Long, m: Long) = ((x % m) + m) % m
      def hraw(id: Long): Long = {
        val s1 = java.lang.Math.floorMod(seed, 1000003L) + 1
        val s2 = java.lang.Math.floorMod(seed, 999983L) + 1
        val t = pm((pm(id, 1000003L) + s1) * (pm(id, 999983L) + s2), 2147483647L)
        pm(pm(t * 48271L, 2147483647L) * 48271L, 2147483647L)
      }
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val hs = rs.map(r => hraw(r._2)).distinct.sorted
        g -> (if (hs.size < k) hs.size.toLong
              else (k - 1).toLong * 2147483647L / (hs(k - 1) + 1))
      }
      val got = graft.operators.Sketches.kmvDistinct(
          rows.toDF("g", "id"), Seq("g"), col("id"), k, seed)
        .as[(Long, Long)].collect().toMap
      got == want
    }

  property("range join binned equals the naive filter model ∀ points/intervals/binWidth") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 99L)))
        .map(_.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }),
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 99L),
          Gen.choose(0L, 40L)))
        .map(_.zipWithIndex.map { case ((k, s, len), i) => (k, s, s + len, i.toLong) }),
      Gen.choose(1L, 50L)) { (pts, ivs, binW) =>
      val expected = (for {
        (pk, t, pid) <- pts
        (ik, s, e, iid) <- ivs
        if ik == pk && t >= s && t <= e
      } yield (iid, pid)).toSet
      val got = graft.operators.Relational.rangeJoinBinned(
          pts.toDF("k", "t", "pid"), ivs.toDF("k", "s", "e", "iid"),
          "t", "s", "e", binWidth = binW, keys = Seq("k"))
        .select("iid", "pid").as[(Long, Long)].collect().toSet
      got == expected
    }

  property("overlap join binned equals the naive filter model ∀ intervals/binWidth") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 99L),
          Gen.choose(0L, 40L)))
        .map(_.zipWithIndex.map { case ((k, s, len), i) => (k, s, s + len, i.toLong) }),
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 99L),
          Gen.choose(0L, 40L)))
        .map(_.zipWithIndex.map { case ((k, s, len), i) => (k, s, s + len, i.toLong) }),
      Gen.choose(1L, 50L)) { (ls, rs, binW) =>
      // a pair must appear EXACTLY once — collect as a multiset, not a set
      val expected = (for {
        (lk, lsS, lsE, lid) <- ls
        (rk, rsS, rsE, rid) <- rs
        if lk == rk && lsS <= rsE && rsS <= lsE
      } yield (lid, rid)).sorted
      val got = graft.operators.Relational.overlapJoinBinned(
          ls.toDF("k", "ls", "le", "lid"), rs.toDF("k", "rs", "re", "rid"),
          "ls", "le", "rs", "re", binWidth = binW, keys = Seq("k"))
        .select("lid", "rid").as[(Long, Long)].collect().toSeq.sorted
      got == expected
    }

  property("weighted sample equals the naive A-ES top-k model ∀ weights/k/seed") =
    forAll(
      Gen.nonEmptyListOf(Gen.choose(-3L, 60L))
        .map(_.zipWithIndex.map { case (w, i) => (i.toLong, w) }),
      Gen.choose(1, 8), Gen.choose(0L, 5L)) { (rows, k, seed) =>
      val expected = rows.filter(_._2 > 0).map { case (id, w) =>
        val u = (TestRefs.hashRaw(id, seed) + 1).toDouble / 2147483647.0
        (id, w, math.pow(u, 1.0 / w))
      }.sortBy { case (id, _, key) => (-key, id) }
        .take(k).map(t => (t._1, t._2)).toSet
      val got = graft.operators.Sampling.weightedSample(
          rows.toDF("id", "w"), "id", "w", k, seed)
        .select("id", "w").as[(Long, Long)].collect().toSet
      got == expected
    }

  property("k-means centroids equal the exact fixed-point reference ∀ corpus/nLists/rounds") =
    forAll(
      Gen.nonEmptyListOf(Gen.listOfN(4, Gen.choose(-1.0, 1.0).map(_.toFloat))),
      Gen.choose(1, 3), Gen.choose(0, 2)) { (vecs, nLists, rounds) =>
      val raw = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v: Seq[Float]) }
      val got = graft.operators.Similarity.kmeansCentroids(
        raw.toDF("vec_id", "embedding"), nLists, rounds)
      got == TestRefs.kmeansCentroids(raw, nLists, rounds)
    }

  property("PolyHash64 equals the BigInt mod-2^64 reference ∀ unicode string") =
    forAll(Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumStr,
      Gen.listOf(Gen.choose(Char.MinValue, '퟿')).map(_.mkString)))) { ss =>
      val got = ss.toDF("s")
        .select(graft.functions.HashExpressions.polyHash64(col("s")))
        .as[Long].collect().toSeq
      got == ss.map(TestRefs.polyHash64)
    }

  property("salted count equals groupBy-count ∀ keys/saltFactor") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0, 5)),
      Gen.choose(1, 16)) { (keys, saltFactor) =>
      // skewed by construction (small key domain); include a NULL key group
      val df = keys.zipWithIndex
        .map { case (k, i) => (if (k == 0) null else s"k$k", i) }
        .toDF("key", "i").select(org.apache.spark.sql.functions.col("key"))
      val got = graft.operators.Profiling.saltedCount(df, "key", saltFactor)
        .as[(Option[String], Long)].collect().toMap
      val want = df.groupBy(col("key"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("cnt"))
        .as[(Option[String], Long)].collect().toMap
      got == want
    }

  property("importance resample equals the naive hash-gate model ∀ weights/nTarget/seed") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 100000L),
        Gen.oneOf(Gen.const[Option[Long]](None), Gen.choose(-5L, 2000L).map(Some(_))))),
      Gen.choose(0L, 50L), Gen.long) { (rows, nTarget, seed) =>
      val dedup = rows.toMap.toSeq
      val df = dedup.map { case (id, w) => (id, w.map(Long.box).orNull) }
        .toDF("doc_id", "w")
      val got = graft.operators.Sampling
        .importanceResample(df, col("w"), nTarget, seed = seed)
        .select("doc_id").as[Long].collect().toSet
      val wsum = dedup.map(_._2.map(w => math.max(w, 0L)).getOrElse(0L))
        .map(_.toDouble).sum
      val want = dedup.filter { case (id, w) =>
        val wd = math.max(w.getOrElse(0L), 0L).toDouble
        wd > 0 && TestRefs.hashRaw(id, seed) % graft.operators.Sampling.Buckets <
          math.floor(math.min(1.0, nTarget.toDouble * wd / wsum) *
            graft.operators.Sampling.Buckets.toDouble).toLong
      }.map(_._1).toSet
      got == want
    }

  // ---- subword (WordPiece-style greedy longest-match) encoding ----
  // generators deliberately include empty/whitespace-only/edge-wrapped text,
  // a non-BMP codepoint (😀 = one codepoint, two UTF-16 units — pins the
  // codepoint-not-code-unit contract the DuckDB mirror depends on), and
  // repetitive strings where greedy vs non-greedy segmentations diverge.
  // No characters in U+E000..U+FFFF, so Java's UTF-16 tie-break order used
  // by the models below coincides with Spark/DuckDB's UTF-8 byte order.
  private val subwordTextGen = Gen.oneOf("", " ", "abc", "abcd efgh", "aaaa",
    "ab", "\ta zz\n", "x😀y z", "ababab", " a b c ", "wxyz wxyz",
    "abcde")
  private val subwordPieceGen = Gen.oneOf("a", "ab", "abc", "abcd", "b", "zz",
    "😀", "xy", "w", "wx", "cd", "e")

  property("subword encode equals the naive greedy codepoint model; concat conserves every word ∀ text/vocab/maxLen") =
    forAll(Gen.nonEmptyListOf(subwordTextGen), Gen.listOf(subwordPieceGen),
      Gen.choose(1, 4)) { (texts, rawPieces, maxLen) =>
      val vocab = rawPieces.distinct
        .filter(p => p.codePointCount(0, p.length) <= maxLen)
        .zipWithIndex.map { case (p, i) => p -> i.toLong }.toMap
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = df.select(col("doc_id"),
          graft.functions.SubwordExpressions
            .subwordIds(col("text"), vocab, 99999L, maxLen).as("ids"),
          graft.functions.SubwordExpressions
            .subwordPieces(col("text"), vocab, maxLen).as("pieces"))
        .as[(Long, Seq[Long], Seq[String])].collect()
      got.length == texts.length && got.forall { case (i, ids, pieces) =>
        val tr = texts(i.toInt)
          .replaceAll("^[\\t\\n\\f\\r ]+|[\\t\\n\\f\\r ]+$", "")
        val words =
          if (tr.isEmpty) Array.empty[String]
          else tr.split("[\\t\\n\\f\\r ]+", -1)
        val want = words.toSeq.flatMap { w =>
          val cps = w.codePoints().toArray
          val out = scala.collection.mutable.Buffer[(Long, String)]()
          var p = 0
          while (p < cps.length) {
            (math.min(maxLen, cps.length - p) to 1 by -1).iterator
              .map(n => new String(cps, p, n)).find(vocab.contains) match {
              case Some(piece) =>
                out += ((vocab(piece), piece))
                p += piece.codePointCount(0, piece.length)
              case None =>
                out += ((99999L, new String(cps, p, 1))); p += 1
            }
          }
          out.toSeq
        }
        ids == want.map(_._1) && pieces == want.map(_._2) &&
          pieces.mkString == words.mkString // no codepoint dropped, ever
      }
    }

  property("learnSubwordVocab equals the naive substring-frequency ranking ∀ corpus/size/maxLen") =
    forAll(Gen.nonEmptyListOf(subwordTextGen), Gen.choose(1, 30),
      Gen.choose(1, 4)) { (texts, k, maxLen) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.operators.TextAnalysis.learnSubwordVocab(df, k, maxLen)
      val counts = scala.collection.mutable.Map[String, Long]()
        .withDefaultValue(0L)
      texts.foreach { t =>
        val tr = t.replaceAll("^[\\t\\n\\f\\r ]+|[\\t\\n\\f\\r ]+$", "")
        val words =
          if (tr.isEmpty) Array.empty[String]
          else tr.split("[\\t\\n\\f\\r ]+", -1)
        words.filter(_.nonEmpty).foreach { w =>
          val cps = w.codePoints().toArray
          var p = 0
          while (p < cps.length) {
            var n = 1
            while (n <= math.min(maxLen, cps.length - p)) {
              counts(new String(cps, p, n)) += 1L
              n += 1
            }
            p += 1
          }
        }
      }
      val want = counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(k)
        .zipWithIndex.map { case ((p, _), i) => p -> i.toLong }.toMap
      got == want
    }

  // fractional (dyadic, hence exactly-representable) weights pin the
  // fixed-point W accumulation: floor(w·2²⁰) summed exactly, then /2²⁰ —
  // the naive model replays it with BigInt, so any association-order
  // dependence in the engine's W would fail this property
  property("importance resample fixed-point W equals the naive model for fractional weights ∀ weights/nTarget/seed") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 100000L),
        Gen.choose(0L, 16000L))),
      Gen.choose(0L, 50L), Gen.long) { (rows, nTarget, seed) =>
      val dedup = rows.toMap.toSeq
      val df = dedup.map { case (id, k) => (id, k / 8.0) }.toDF("doc_id", "w")
      val got = graft.operators.Sampling
        .importanceResample(df, col("w"), nTarget, seed = seed)
        .select("doc_id").as[Long].collect().toSet
      val wsum = dedup
        .map { case (_, k) => math.floor(k / 8.0 * 1048576.0).toLong }
        .foldLeft(BigInt(0))(_ + _).toDouble / 1048576.0
      val want = dedup.filter { case (id, k) =>
        val wd = k / 8.0
        wd > 0 && TestRefs.hashRaw(id, seed) % graft.operators.Sampling.Buckets <
          math.floor(math.min(1.0, nTarget.toDouble * wd / wsum) *
            graft.operators.Sampling.Buckets.toDouble).toLong
      }.map(_._1).toSet
      got == want
    }

  property("funnel equals the naive per-user fold ∀ events/horizon") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(1L, 6L),
        Gen.oneOf("view", "click", "purchase", "other"),
        Gen.choose(0L, 50L))),
      Gen.choose(1L, 30L)) { (events, horizon) =>
      val df = events.toDF("user_id", "event_type", "ts_us")
      val got = graft.operators.Sessions
        .funnel(df, Seq("view", "click", "purchase"), horizon)
        .as[(Long, Long, Option[Long], Option[Long], Long)]
        .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      val want = events.groupBy(_._1).flatMap { case (u, evs) =>
        def minAtOrAfter(tpe: String, lo: Long): Option[Long] =
          evs.filter(e => e._2 == tpe && e._3 >= lo && e._3 <= lo + horizon)
            .map(_._3).minOption
        evs.filter(_._2 == "view").map(_._3).minOption.map { s1 =>
          val s2 = minAtOrAfter("click", s1)
          val s3 = s2.flatMap(t => minAtOrAfter("purchase", t))
          u -> ((s1, s2, s3, 1L + s2.size + s3.size))
        }
      }.toMap
      got == want
    }

  // water-filling vs the naive model: allocate by raising an integer level
  // one unit at a time (the textbook definition), remainder +1 to the first
  // unsaturated keys in key order — the closed-form windowed solve must
  // reproduce it for any count map and budget
  property("waterfillAlloc equals the unit-step naive model") =
    forAll(
      Gen.nonEmptyMap(Gen.zip(
        Gen.choose(0, 25).map(i => s"k$i"), Gen.choose(1, 40))),
      Gen.choose(0L, 120L)) { (counts, budget) =>
      def naive(c: Map[String, Int], b: Long): Map[String, Long] = {
        val total = c.values.map(_.toLong).sum
        if (b >= total) return c.map { case (k, v) => k -> v.toLong }
        var lvl = 0L
        while (c.values.map(v => math.min(v.toLong, lvl + 1)).sum <= b) lvl += 1
        val base = c.map { case (k, v) => k -> math.min(v.toLong, lvl) }
        var rem = b - base.values.sum
        val bumped = c.keys.toSeq.sorted.foldLeft(base) { (acc, k) =>
          if (rem > 0 && c(k) > lvl) { rem -= 1; acc.updated(k, acc(k) + 1) }
          else acc
        }
        bumped
      }
      val df = counts.toSeq
        .flatMap { case (k, n) => (1 to n).map(i => (k, i)) }
        .toDF("src", "i")
      val got = Sampling.waterfillAlloc(df, "src", budget)
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> r._3).toMap
      got == naive(counts, budget)
    }

  // ---- unigram-LM tokenizer properties (pure JVM — no Spark job per case)

  private val genLowerWord: Gen[String] =
    Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.choose('a', 'd')).map(_.mkString)) // small alphabet
                                                            // → dense vocab hits
  private val genVocabPieces: Gen[List[String]] =
    Gen.listOf(Gen.choose(2, 4).flatMap(n =>
      Gen.listOfN(n, Gen.choose('a', 'd')).map(_.mkString)))

  property("logFp is exact on powers of two and monotone, logFp(2x)=logFp(x)+2^f") =
    forAll(Gen.choose(1L, 1L << 40), Gen.choose(1, 10)) { (x, f) =>
      import graft.functions.UnigramExpressions.logFp
      logFp(1, f) == 0L &&
        logFp(2 * x, f) == logFp(x, f) + (1L << f) &&
        logFp(x + 1, f) >= logFp(x, f)
    }

  property("unigram Viterbi: piece-length conservation AND global optimality " +
      "vs brute-force segmentation enumeration") =
    forAll(genLowerWord, genVocabPieces, Gen.choose(1L, 1000L)) { (w, extra, seed) =>
      import graft.functions.UnigramExpressions
      // vocab: all single chars (coverage, as the learner guarantees) plus
      // arbitrary multi-char pieces; deterministic pseudo-random costs
      val pieces = (('a' to 'd').map(_.toString) ++ extra).distinct
      val costs = pieces.map(p =>
        p -> (java.lang.Math.floorMod(seed * 31 + p.hashCode, 1000L) + 1L)).toMap
      val table = UnigramExpressions.buildTable(costs)
      val seg = UnigramExpressions.viterbi(w, table, 4)
      // conservation: pieces concatenate back to the word exactly
      val conserve = seg != null && seg.mkString == w
      // brute force: every segmentation into vocab pieces of len <= 4
      def enum(s: String): List[List[String]] =
        if (s.isEmpty) List(Nil)
        else (1 to math.min(4, s.length)).toList
          .filter(n => costs.contains(s.take(n)))
          .flatMap(n => enum(s.drop(n)).map(s.take(n) :: _))
      implicit val seqOrd: Ordering[List[String]] =
        Ordering.Implicits.seqOrdering[List, String]
      val best = enum(w).map(p =>
        (p.map(costs).sum, p.length, p)).min
      conserve && (seg.toList == best._3)
    }

  // astral sibling: words mix BMP and astral letters, the brute-force
  // model walks CODE POINTS and tie-breaks in code-point order — pins the
  // round-15 lift of the Viterbi DP (UTF-16 walks would mis-place every
  // piece boundary after an astral char)
  private val astralAlphabet = Seq("a", "b", "𐐷", "𠀀")
  private val genAstralWord: Gen[String] =
    Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(astralAlphabet)).map(_.mkString))
  private val genAstralPieces: Gen[List[String]] =
    Gen.listOf(Gen.choose(2, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(astralAlphabet)).map(_.mkString)))

  property("unigram Viterbi on astral words: code-point conservation and " +
      "optimality vs a code-point brute force") =
    forAll(genAstralWord, genAstralPieces, Gen.choose(1L, 1000L)) { (w, extra, seed) =>
      import graft.functions.{UnigramExpressions, WordForm}
      val pieces = (astralAlphabet ++ extra).distinct
      val costs = pieces.map(p =>
        p -> (java.lang.Math.floorMod(seed * 31 + p.hashCode, 1000L) + 1L)).toMap
      val table = UnigramExpressions.buildTable(costs)
      val seg = UnigramExpressions.viterbi(w, table, 3)
      val conserve = seg != null && seg.mkString == w
      val cps = w.codePoints().toArray
      def enum(p: Int): List[List[String]] =
        if (p == cps.length) List(Nil)
        else (1 to math.min(3, cps.length - p)).toList
          .filter(n => costs.contains(new String(cps, p, n)))
          .flatMap(n => enum(p + n).map(new String(cps, p, n) :: _))
      implicit val cpOrd: Ordering[String] =
        (a: String, b: String) => WordForm.compareCodePoints(a, b)
      implicit val seqOrd: Ordering[List[String]] =
        Ordering.Implicits.seqOrdering[List, String]
      val best = enum(0).map(p => (p.map(costs).sum, p.length, p)).min
      conserve && (seg.toList == best._3)
    }

  // ------------------------------------------- eval-plane enumerations

  property("pass@k equals brute-force subset enumeration ∀ (n, c, k)") =
    forAll(Gen.choose(1, 8), Gen.choose(0, 8), Gen.choose(1, 9)) { (n, c0, k) =>
      import graft.operators.Eval
      val c = math.min(c0, n)
      val samples = (0 until n).map(i => ("t", i < c)).toDF("task_id", "correct")
      val got = Eval.passAtK(samples, Seq(k))
        .select(s"pass_at_$k").as[Option[Double]].collect().head
      if (k > n) got.isEmpty
      else {
        val subsets = (0 until n).combinations(k).toSeq
        val noCorrect = subsets.count(_.forall(_ >= c))
        // identical division: enumerated counts ARE C(n-c,k) and C(n,k)
        got.contains(1.0 - noCorrect.toDouble / subsets.size.toDouble)
      }
    }

  property("best-of-n equals the enumerated mean max over k-subsets") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0L, 20L)).map(_.take(7)),
        Gen.choose(1, 7)) { (scores, k) =>
      import graft.operators.Eval
      val samples = scores.map(("t", _)).toDF("task_id", "score")
      val got = Eval.bestOfN(samples, Seq(k))
        .select(s"best_of_$k").as[Option[Double]].collect().head
      if (k > scores.size) got.isEmpty
      else {
        val subsets = scores.indices.combinations(k).toSeq
        val sumMax = subsets.map(s => s.map(scores).max).sum
        got.contains(sumMax.toDouble / subsets.size.toDouble)
      }
    }

  property("AUC equals the enumerated pairwise win share (ties half)") =
    forAll(Gen.nonEmptyListOf(
        Gen.zip(Gen.choose(0L, 5L), Gen.oneOf(true, false))).map(_.take(10))) { rows =>
      import graft.operators.Eval
      val got = Eval.aucRoc(rows.toDF("score", "label"))
        .select("auc").as[Option[Double]].collect().head
      val pos = rows.filter(_._2).map(_._1)
      val neg = rows.filterNot(_._2).map(_._1)
      if (pos.isEmpty || neg.isEmpty) got.isEmpty
      else {
        val wins = (for (p <- pos; q <- neg) yield p > q).count(identity)
        val ties = (for (p <- pos; q <- neg) yield p == q).count(identity)
        // same exact longs: S2 - P(P+1) == 2*wins + ties
        got.contains((2L * wins + ties).toDouble /
          (2L * pos.size * neg.size).toDouble)
      }
    }

  property("Kendall tau cmd equals the enumerated pair-sign sum") =
    forAll(Gen.choose(1, 7), Gen.choose(0L, 1000L)) { (n, seed) =>
        val ra = (1 to n).toList
        val rb = new scala.util.Random(seed).shuffle(ra)
        import graft.operators.Eval
        val a = ra.zipWithIndex.map { case (r, d) => (1L, d.toLong, r.toLong) }
          .toDF("query_id", "doc_id", "rank")
        val b = rb.zipWithIndex.map { case (r, d) => (1L, d.toLong, r.toLong) }
          .toDF("query_id", "doc_id", "rank")
        val got = Eval.kendallTau(a, b)
          .select("concordant_minus_discordant", "tau")
          .as[(Long, Option[Double])].collect().head
        val cmd = (for (i <- 0 until n; j <- i + 1 until n) yield
          math.signum((ra(i) - ra(j)).toLong * (rb(i) - rb(j)))).sum
        got._1 == cmd &&
          (if (n < 2) got._2.isEmpty
           else got._2.contains(cmd.toDouble / ((n.toLong * (n - 1)).toDouble / 2.0)))
    }

  property("WER edit distance equals the full-matrix reference; zero on self") =
    forAll(Gen.listOf(Gen.oneOf("a", "b", "c")).map(_.take(8)),
        Gen.listOf(Gen.oneOf("a", "b", "c")).map(_.take(8))) { (ta, tb) =>
      import graft.operators.Eval
      val pairs = Seq((1L, ta.mkString(" "), tb.mkString(" ")),
        (2L, ta.mkString(" "), ta.mkString(" ")))
        .toDF("doc_id", "cand", "ref")
      val got = Eval.werStatsFast(pairs)
        .select("doc_id", "edit_distance")
        .as[(Long, Long)].collect().sortBy(_._1)
      val d = Array.tabulate(ta.size + 1, tb.size + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to ta.size; j <- 1 to tb.size)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (ta(i - 1) == tb(j - 1)) 0 else 1))
      got(0)._2 == d(ta.size)(tb.size) && got(1)._2 == 0L
    }

  property("clipped n-gram matches are symmetric: m(cand, ref) == m(ref, cand)") =
    forAll(Gen.listOf(Gen.oneOf("a", "b")).map(_.take(10)),
        Gen.listOf(Gen.oneOf("a", "b")).map(_.take(10))) { (ta, tb) =>
      import graft.operators.Eval
      def ms(c: String, r: String) =
        Eval.generationPairStatsFast(Seq((1L, c, r)).toDF("doc_id", "cand", "ref"))
          .select("m1", "m2", "m3", "m4").as[(Long, Long, Long, Long)]
          .collect().head
      ms(ta.mkString(" "), tb.mkString(" ")) == ms(tb.mkString(" "), ta.mkString(" "))
    }
}
