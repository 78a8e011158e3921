package graft

import graft.model.{AggregationSpec, Metric, MetricEnvelope}
import graft.plan.RuleCompiler
import graft.spec.SpecLoader
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Scale-regression guards on the PHYSICAL plans (these are the properties
  * that make the engine viable at 100 TB — a change that silently loses
  * pushdown or partial aggregation must fail here), plus the shipped
  * reference spec corpus loading + compiling end-to-end. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The scan-parallelism floor ([[graft.sources.ScanParallelism.flooredParquet]])
    * adds ONE round-robin REPARTITION_BY_NUM exchange directly above a
    * single-split scan — it spreads scan output across cores, it does not
    * move data to a key. The narrow-map pins below ignore exactly that
    * exchange and keep forbidding keyed (hash/range) data shuffles, so a
    * regression away from the narrow-map design still fails.
    *
    * PRECISE (ADVICE r17 — the r17 mask stripped EVERY round-robin exchange,
    * so a future mid-pipeline `repartition(n)` would have passed the
    * "must not shuffle" pins silently): a round-robin exchange is only
    * masked when a FileScan appears BENEATH it before any other exchange in
    * the printed tree — i.e. it sits directly on the scan pipeline. Any
    * other round-robin exchange stays in the string and fails the caller's
    * no-Exchange assertion. */
  private def withoutScanFloor(plan: String): String = {
    val lines = plan.split("\n")
    lines.indices.filter(i => lines(i).contains("Exchange RoundRobinPartitioning"))
      .foreach { i =>
        val below = lines.drop(i + 1)
        val onScan = below.takeWhile(!_.contains("Exchange "))
          .exists(_.contains("FileScan"))
        assert(onScan,
          s"round-robin exchange is NOT a scan floor (no FileScan directly beneath):\n$plan")
      }
    plan.replace("Exchange RoundRobinPartitioning", "ScanFloorRepartition")
  }

  test("scan floor: fires as one round-robin exchange on the scan when " +
      "splits < parallelism, and is a NO-OP when the scan already splits enough") {
    val path = "/root/testdata/sf0.001/documents.parquet"
    // fired: a ~60 KB single file estimates 1 split < local[4]'s parallelism
    val floored = graft.sources.ScanParallelism.flooredParquet(spark, path)
    val plan = executedPlan(floored)
    assert("Exchange RoundRobinPartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly one scan-floor exchange:\n$plan")
    val below = plan.split("\n").dropWhile(!_.contains("Exchange RoundRobinPartitioning"))
    assert(below.exists(_.contains("FileScan")),
      s"floor exchange must sit on the file scan:\n$plan")
    // not fired: shrink maxPartitionBytes so the SAME file estimates >= cores
    // splits — production shape, no exchange may be added
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "4096")
      val bare = executedPlan(
        graft.sources.ScanParallelism.flooredParquet(spark, path))
      assert(!bare.contains("Exchange"),
        s"floor must be a no-op when the scan splits enough:\n$bare")
    } finally spark.conf.set(key, prev)
  }

  test("envelope JSON parse evaluates from_json ONCE through a generator " +
      "(corrupt rows drop as empty arrays, never via a parse-duplicating filter)") {
    import spark.implicits._
    val json = Seq(
      """{"metric":{"name":"m0","dimensions":{},"timestamp":1.0,"value":2.0,"value_meta":{}},"meta":{},"creation_time":0}""",
      "not json").toDF("value")
    val parsed = graft.sources.EnvelopeJson.parse(json)
    val plan = executedPlan(parsed)
    assert("from_json".r.findAllIn(plan).length == 1,
      s"from_json must be evaluated exactly once per row (r17 Finding 4):\n$plan")
    assert(plan.contains("Generate"),
      s"corrupt-row drop must ride the generator, not a pushable filter:\n$plan")
  }

  test("metric-name filter is pushed into the parquet scan") {
    val q = SparkEntry.queries("f1_name_filter")(spark, "/root/testdata/sf0.001")
    val scan = q.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PushedFilters") && scan.contains("EqualTo(event_type,click)"),
      s"filter not pushed to scan:\n$scan")
  }

  test("grouped aggregation is partial (map-side) before the exchange") {
    val plan = executedPlan(
      SparkEntry.queries("a1_sum_1d")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("partial_sum"), s"no map-side partial aggregation:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly one shuffle:\n$plan")
  }

  test("delta/rate plan as pure HashAggregate — never Sort + SortAggregate") {
    // THE round-4 fix: delta/rate ride the hash-aggregable ValueAtTimeBound
    // primitive (two primitive double buffer slots). A revert to
    // max(struct)/max_by would put a struct in the aggregation buffer, which
    // HashAggregateExec rejects — the whole rule pipeline would degrade to
    // Sort + SortAggregate on both exchange sides (the 3-round bench outlier
    // this guard exists to keep dead). See functions/TimeBoundValue.scala.
    Seq("a6_delta_1d", "a7_rate_1d").foreach { q =>
      val plan = executedPlan(SparkEntry.queries(q)(spark, "/root/testdata/sf0.001"))
      assert(plan.contains("HashAggregate"), s"$q lost hash aggregation:\n$plan")
      assert(!plan.contains("SortAggregate"),
        s"$q degraded to sort-based aggregation:\n$plan")
      assert(!plan.contains("Sort ["), s"$q plans a sort it never needed:\n$plan")
    }
  }

  test("rollup adds one more exchange with its own partial aggregate") {
    val plan = executedPlan(
      SparkEntry.queries("r1_rollup_1d")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("partial_avg") && plan.contains("partial_sum"))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 2)
  }

  test("brute-force top-k broadcasts the query side, not the corpus") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = executedPlan(graft.operators.Similarity.bruteForceTopK(
      emb.filter($"vec_id" < 3), emb, 4))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query side not broadcast:\n$plan")
  }

  test("metadata projection prunes the binary media column at the source") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val media = graft.operators.Multimodal.synthesizeFromDocs(docs)
    val scan = graft.operators.Multimodal.metadata(media)
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(!scan.contains("text"), s"text column not pruned from scan:\n$scan")
  }

  test("decontamination broadcasts the benchmark shingle set (semi-join, corpus never shuffled by shingle)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = executedPlan(graft.operators.Dedup.contaminatedIds(
      docs.filter($"doc_id" % 50 =!= 0), docs.filter($"doc_id" % 50 === 0), 3))
    assert(plan.contains("BroadcastExchange"), s"benchmark side not broadcast:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"expected a broadcast semi-join:\n$plan")
    // corpus-side shingles must never be hash-shuffled: the admissible
    // exchanges are the benchmark-side shingle distinct (pre-broadcast, tiny)
    // and the contaminated-id distinct — never a shuffle join of the corpus
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus side shuffled for the join:\n$plan")
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(plan).length == 1,
      s"expected exactly one corpus-side exchange (on doc ids):\n$plan")
    // the graded-overlap variant shares the shape: benchmark shingles
    // broadcast as a membership flag, corpus exchanges keyed by doc id only
    val sp = executedPlan(graft.operators.Dedup.contaminationScores(
      docs.filter($"doc_id" % 50 =!= 0), docs.filter($"doc_id" % 50 === 0), 3))
    assert("BroadcastHashJoin \\[sh_h".r.findFirstIn(sp).isDefined,
      s"benchmark shingle set not broadcast on the shingle hash:\n$sp")
    // the single admissible shingle-keyed exchange is the benchmark-side
    // distinct (tiny, pre-broadcast) — a second would mean the corpus
    // shuffled by shingle
    assert("Exchange hashpartitioning\\(sh_h".r.findAllIn(sp).length == 1,
      s"corpus shuffled by shingle for the overlap count:\n$sp")
    assert(!sp.contains("SortMergeJoin [sh_h") && !sp.contains("ShuffledHashJoin [sh_h"),
      s"shingle membership degraded to a shuffled join:\n$sp")
  }

  test("capped n-gram Jaccard broadcasts the hot-shingle set (anti-join, no extra corpus shuffle)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = executedPlan(graft.operators.Dedup.ngramJaccardPairs(
      docs, 3, 0.5, maxDocFreq = 4))
    // the df > cap set is tiny by construction (hot shingles only) — it must
    // reach the corpus as a broadcast anti-join, never a shuffled join
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"hot-shingle filter is not a broadcast anti-join:\n$plan")
  }

  test("line dedup broadcasts the hot-line set; rebuild is one doc-keyed exchange") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = executedPlan(graft.operators.Dedup.dedupLines(
      docs.withColumn("text", org.apache.spark.sql.functions.regexp_replace(
        $"text", "\\. ", ".\n")), maxDocFreq = 3))
    // the df > cap set is boilerplate-only (small) — it must reach the corpus
    // lines as a broadcast flag join KEYED ON THE LINE HASH (the final doc_id
    // join may legitimately broadcast too, so anchor the assertion on lh),
    // never a shuffled join
    assert("BroadcastHashJoin \\[lh".r.findFirstIn(plan).isDefined,
      s"hot-line set is not broadcast on the line hash:\n$plan")
    assert(!plan.contains("SortMergeJoin [lh") &&
      !plan.contains("ShuffledHashJoin [lh"),
      s"corpus lines shuffled for the hot-line join:\n$plan")
    // the rebuild is ONE corpus groupBy: text, kept count and total count
    // come from the same aggregate (a second doc-keyed pass would re-explode
    // the whole corpus)
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(plan).length <= 2,
      s"more doc-keyed exchanges than rebuild + join:\n$plan")
    // the df count is two map-side-combined levels on (hash, id) then hash —
    // its exchanges carry (lh, doc_id) pairs, NEVER line text: exactly the
    // distinct-partial exchange and the count exchange lead with lh
    assert(plan.contains("partial_count"),
      s"df count lost its map-side partial:\n$plan")
    assert("Exchange hashpartitioning\\(lh".r.findAllIn(plan).length == 2,
      s"df count is not two lh-keyed map-side-combined levels:\n$plan")
  }

  test("line dedup broadcastHot=false plans a shuffled hash join on the line hash, no broadcast") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = executedPlan(graft.operators.Dedup.dedupLines(
      docs.withColumn("text", org.apache.spark.sql.functions.regexp_replace(
        $"text", "\\. ", ".\n")), maxDocFreq = 3, broadcastHot = false))
    // the escape hatch exists because the hot set may exceed broadcast limits:
    // a size misestimate must not silently re-broadcast it (the hint pins SHJ —
    // hot side partitions by lh, corpus lines stream past unsorted)
    assert(plan.contains("ShuffledHashJoin [lh"),
      s"escape hatch is not a shuffled hash join on the line hash:\n$plan")
    assert(!"BroadcastHashJoin \\[lh".r.findFirstIn(plan).isDefined,
      s"escape hatch still broadcasts the hot-line set:\n$plan")
  }

  test("LM scoring joins stay keyed; the only nested-loop join is the 1-row vsize scalar") {
    val plan = executedPlan(
      SparkEntry.queries("text_lm_nll")(spark, "/root/testdata/sf0.001"))
    // losing a join condition (e.g. the w1 == w vocabulary key) would turn a
    // corpus-sized join cartesian; the single admissible nested-loop join is
    // the broadcast cross join carrying the one-row vocabulary-size scalar
    assert(!plan.contains("CartesianProduct"),
      s"LM scoring degenerated to a cartesian join:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length == 1,
      s"expected exactly one nested-loop join (the 1-row vsize scalar):\n$plan")
  }

  test("semantic dedup assigns cells with the argmax fold and joins on cell, never all-pairs") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = executedPlan(graft.operators.Dedup.semanticPairs(emb, 0.4, nLists = 8))
    // assignment must stay the narrow argmax map shared with IVF — a revert
    // to a sorted-array assignment would drop array_max from the plan
    assert(plan.contains("array_max"),
      s"cell assignment is not an argmax fold:\n$plan")
    // the whole point of SemDeDup: pairs form through a cell equi-join, the
    // quadratic pair space is never enumerated
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cell".r
      .findFirstIn(plan).isDefined,
      s"pair join is not keyed on the cell id:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"semantic dedup degenerated to an all-pairs join:\n$plan")
  }

  test("IVF corpus assignment is a narrow map (exchanges only for probe join and top-k)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = executedPlan(graft.operators.Similarity.ivfTopK(
      emb.filter($"vec_id" < 3), emb, k = 4, nLists = 8, nProbe = 2))
    // corpus-side cell assignment must be the argmax fold — a revert to the
    // sorted-array assignment would drop array_max from the plan (the only
    // array_sort allowed is the tiny query side's probe-prefix ranking)
    assert(plan.contains("array_max"),
      s"corpus assignment is not an argmax fold:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"per-query rank not pre-limited:\n$plan")
  }

  test("distinct-count is two map-side-combined levels; chunking and quantization stay narrow") {
    val plan = executedPlan(
      SparkEntry.queries("d4_distinct")(spark, "/root/testdata/sf0.001"))
    // dedup level + count level, each partial-before-exchange: exactly two
    // exchanges, and the scan side combines before either
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 2,
      s"distinct aggregate should shuffle exactly twice:\n$plan")
    assert(plan.contains("partial_count"), s"no map-side partial count:\n$plan")
    // token chunking, quantization, URL extraction and the domain-blocklist
    // filter are pure scan→project(→explode)/filter pipelines
    Seq("text_chunk_tokens", "emb_quantize", "text_urls", "text_domain_filter")
      .foreach { q =>
        val p = withoutScanFloor(
          executedPlan(SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")))
        assert(!p.contains("Exchange"), s"$q must not shuffle:\n$p")
      }
  }

  test("C4 clean never shuffles; tf-idf and dup-span joins stay keyed") {
    // C4 cleaning is all higher-order array functions over one row — any
    // Exchange means a regression away from the narrow-map design
    val c4 = withoutScanFloor(executedPlan(
      SparkEntry.queries("text_c4_clean")(spark, "/root/testdata/sf0.001")))
    assert(!c4.contains("Exchange"), s"C4 clean must not shuffle:\n$c4")
    // tf-idf: the one admissible nested-loop join is the 1-row corpus-size
    // scalar (same pattern as LM scoring's vsize); the per-doc rank must
    // pre-limit below its exchange
    val tf = executedPlan(
      SparkEntry.queries("text_tfidf")(spark, "/root/testdata/sf0.001"))
    assert(!tf.contains("CartesianProduct"),
      s"tf-idf degenerated to a cartesian join:\n$tf")
    assert("BroadcastNestedLoopJoin".r.findAllIn(tf).length == 1,
      s"expected exactly one nested-loop join (the 1-row n_docs scalar):\n$tf")
    assert(tf.contains("WindowGroupLimit"),
      s"per-doc rank not pre-limited:\n$tf")
    // dup spans: the duplicated-shingle set has no smallness guarantee (it is
    // every cross-doc repeated shingle), so membership is a KEYED semi-join
    // on the shingle hash with a map-side-combined df count below it
    val ds = executedPlan(
      SparkEntry.queries("text_dup_spans")(spark, "/root/testdata/sf0.001"))
    assert(ds.contains("LeftSemi"),
      s"duplicated-shingle membership is not a semi-join:\n$ds")
    assert(!ds.contains("CartesianProduct") && !ds.contains("BroadcastNestedLoopJoin"),
      s"dup-span membership degenerated to an unkeyed join:\n$ds")
    assert(ds.contains("partial_count"),
      s"df count lost its map-side partial:\n$ds")
  }

  test("sequence packing shuffles once (on the shard) and keeps a streaming window frame") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = executedPlan(graft.operators.Sampling.packSequences(
      docs, "doc_id", graft.operators.TextAnalysis.tokenCount(col("text")), 512L, 8))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly one shuffle (on shard):\n$plan")
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"),
      s"no window operator:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"packing must never collapse to a single partition:\n$plan")
  }

  test("shuffle order shuffles once (on the shard) — never a global sort") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = executedPlan(graft.operators.Sampling.shuffleOrder(
      docs.select($"doc_id"), "doc_id", 8))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly one shuffle (on shard):\n$plan")
    // the per-shard sort must stay inside the shard partition — a
    // rangepartitioning exchange would mean Catalyst planned a global sort
    assert(!plan.contains("Exchange rangepartitioning") &&
      !plan.contains("Exchange SinglePartition"),
      s"shuffle order must never sort or collapse globally:\n$plan")
  }

  test("k-means assignment is a narrow map — centroid literals, no exchange") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = graft.operators.Similarity.kmeansCentroids(emb, 4, rounds = 0)
    val plan = executedPlan(graft.operators.Similarity.kmeansAssign(emb, cents))
    assert(!plan.contains("Exchange"),
      s"assignment must stay scan-local (argmax over plan literals):\n$plan")
  }

  test("trigram language id is one narrow map — single scorer instance, " +
      "no explode, no join, no exchange") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = executedPlan(graft.operators.TextAnalysis.langIdNgram(docs))
    assert(!plan.contains("Exchange"),
      s"langIdNgram must stay scan-local:\n$plan")
    assert(!plan.toLowerCase.contains("generate"),
      s"langIdNgram must not explode the trigram relation:\n$plan")
    // CollapseProject must NOT inline the non-cheap scorer into its 10
    // consumers — exactly one evaluation per row
    assert("ngramprofilescores".r.findAllIn(plan.toLowerCase).length == 1,
      s"scorer expression duplicated:\n$plan")
  }

  test("quality quantile cutoff rides a 1-row broadcast; the filter pass stays narrow") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = executedPlan(graft.operators.TextAnalysis
      .qualityQuantileFilter(docs, q = 0.25, sampleRate = 0.5))
    // the scalar cutoff must join as a broadcast nested-loop (1 row), and
    // the only exchange feeds the sample aggregation — a hash exchange on
    // the corpus side would mean the filter pass lost its narrowness
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"cutoff scalar not broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"corpus side must not shuffle for a scalar threshold:\n$plan")
  }

  test("sequence materialization reuses packing's shard partitioning — ONE shuffle total") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = executedPlan(graft.operators.Sampling.materializeSequences(
      graft.operators.Sampling.packSequences(
        docs, "doc_id", graft.operators.TextAnalysis.tokenCount(col("text")), 512L, 8)))
    // the (shard, seq_id) aggregation is co-partitioned with the window's
    // hashpartitioning(shard), so Catalyst plans NO second exchange — the
    // whole pack → materialize pipeline is one shuffle; a regression here
    // doubles the exchanged volume of the export path
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly one shuffle (shard partitioning reused by the agg):\n$plan")
    assert(plan.contains("partial_collect_list"),
      s"sequence aggregation lost its map-side partial:\n$plan")
  }

  test("token-id materialization reuses packing's shard partitioning — ONE shuffle, encode map-side") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = executedPlan(graft.operators.Sampling.materializeTokenIds(
      graft.operators.Sampling.packSequences(
        docs, "doc_id", graft.operators.TextAnalysis.tokenCount(col("text")), 512L, 8),
      Map("the" -> 0L, "a" -> 1L), oovId = 99L))
    // same contract as the text materialization: the (shard, seq_id) agg is
    // co-partitioned with the pack window's hashpartitioning(shard), so the
    // whole pack → encode → materialize path is ONE shuffle (the encoding is
    // a narrow projection between the pack window and the aggregation — it
    // adds no exchange; a second Exchange here would double the export
    // path's shuffled volume)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly one shuffle (shard partitioning reused by the agg):\n$plan")
    assert(plan.contains("partial_collect_list"),
      s"sequence aggregation lost its map-side partial:\n$plan")
    assert(plan.toLowerCase.contains("tokenids"),
      s"native TokenIds encoding missing from the plan:\n$plan")
  }

  test("pipeline_e2e composes every stage's pinned shape — no cartesian, no shuffle above packing", SlowTest) {
    // r17: when the measured survivor set is SMALL the query eagerly
    // materializes its packed output inside the survivor-sized partition
    // wrap and returns a checkpoint leaf (pinned below). To inspect the
    // full production-path tail (clamp at the session bound → lazy), run
    // the composition with the session width pinned to the clamp floor
    val df = graft.operators.Lineage.withShufflePartitions(spark, 1) {
      SparkEntry.queries("pipeline_e2e")(spark, "/root/testdata/sf0.001")
    }
    val plan = executedPlan(df)
    // composing the stages must not flip any keyed join into an all-pairs
    // product (the failure mode where a stats change un-broadcasts a dim)
    assert(!plan.contains("CartesianProduct"),
      s"pipeline composition planned a cartesian product:\n$plan")
    // the topmost Window is packSequences' prefix sum on hashpartitioning
    // (shard); materializeSequences' aggregate must reuse that partitioning —
    // any Exchange printed ABOVE it means the export tail gained a shuffle
    val firstWindow = plan.indexOf("Window ")
    assert(firstWindow >= 0, s"pack window missing from plan:\n$plan")
    assert(!plan.substring(0, firstWindow).contains("Exchange hashpartitioning"),
      s"materialize no longer reuses packing's shard partitioning:\n$plan")
    // the decontaminated survivor set is checkpointed (lineage truncated so
    // the five downstream consumers stop re-analyzing the whole upstream
    // plan): everything below it — including the hot-line / bench-shingle
    // broadcasts, pinned by their own stage tests — is severed behind
    // ExistingRDD leaves, and what remains above must stay keyed
    assert(plan.contains("Scan ExistingRDD"),
      s"expected the checkpointed survivor-set boundary in the plan:\n$plan")
    // the split's component-label join is an equi-join on the id — never a
    // nested-loop (comp is checkpoint-backed, so no stats: Catalyst must
    // still pick a keyed join from the equi-condition)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"label join degenerated to a nested loop:\n$plan")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[doc_id".r
      .findFirstIn(plan).isDefined,
      s"expected a keyed label join on doc_id:\n$plan")
    // and rows actually flow end-to-end on the smallest fixture
    assert(df.count() > 0, "pipeline produced no sequences at sf0.001")
    // the scale-conditional tail: at the DEFAULT test session width the
    // survivor clamp shrinks, so the query must return the eagerly
    // materialized packed output (a checkpoint leaf — the tail's exchanges
    // ran at the survivor-derived partitioning, not at session width)
    val dfSmall = SparkEntry.queries("pipeline_e2e")(spark, "/root/testdata/sf0.001")
    assert(executedPlan(dfSmall).contains("Scan ExistingRDD"),
      "expected the small-survivor path to return the materialized packed output")
  }

  test("pipeline_e2e's pair stage is the df-capped join: broadcast anti-join on sh_h") {
    // connectedComponents eagerly checkpoints, severing the pair plan from
    // pipeline_e2e's final executedPlan — so pin the pair stage's OWN plan,
    // on the exact function the composition calls (SparkEntry.pipelinePairs).
    // The hot-shingle anti-join on the 64-bit shingle hash is the guard that
    // keeps every pair join bucket ≤ maxDocFreq wide; an uncapped pair stage
    // goes quadratic on one hot shingle at 100×.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = executedPlan(SparkEntry.pipelinePairs(docs))
    assert("""\[sh_h#\d+L?\], \[sh_h#\d+L?\], LeftAnti""".r.findFirstIn(plan).isDefined,
      s"pair stage lost its hot-shingle df cap (anti-join on sh_h):\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"hot-shingle set must reach the corpus as a broadcast:\n$plan")
  }

  test("priority survivors exchange fingerprints + ~40-byte structs, never text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = executedPlan(graft.operators.Dedup.prioritySurvivors(
      docs, Seq("src7", "src2")))
    // the winner is a map-side-combined struct MIN keyed on the fingerprint;
    // the corpus text must never ride that exchange — what crosses the wire
    // is the partial aggregate's output, so pin text OUT of the partial line
    assert(plan.contains("partial_min"), s"struct MIN lost its map-side partial:\n$plan")
    val partialLine = plan.split("\n").find(_.contains("partial_min")).get
    assert(!partialLine.contains("text#"),
      s"corpus text rides the fingerprint exchange:\n$partialLine")
    assert("Exchange hashpartitioning\\(fingerprint#\\d+".r.findFirstIn(plan).isDefined,
      s"winner aggregation not keyed on fingerprint:\n$plan")
  }

  test("incremental dedup: anti-join stays keyed on the fingerprint, no product") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    import org.apache.spark.sql.functions.col
    val plan = executedPlan(graft.operators.Dedup.incrementalNew(
      docs.filter(col("doc_id") % 4 === 3), docs.filter(col("doc_id") % 4 =!= 3)))
    // the NOT-IN must be a keyed equi-anti-join on the md5 fingerprint (any
    // degradation to a nested-loop/cartesian product is corpus² at 100 TB)
    assert("\\[__graft_fp\\d+#\\d+\\], \\[__graft_fp\\d+#\\d+\\], LeftAnti".r
        .findFirstIn(plan).isDefined,
      s"anti-join no longer keyed on the fingerprint:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"incremental dedup planned a product join:\n$plan")
    // the seen-side distinct exchanges fingerprints only — never text
    val aggLines = plan.split("\n").filter(l =>
      l.contains("HashAggregate") && l.contains("__graft_fp"))
    assert(aggLines.nonEmpty && aggLines.forall(!_.contains("text#")),
      s"seen-side distinct carries text through its exchange:\n${aggLines.mkString("\n")}")
  }

  test("fuzzy incremental dedup: band join stays keyed, keep-filter is a broadcast anti-join") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = executedPlan(graft.operators.Dedup.incrementalNewFuzzy(
      docs.filter(col("doc_id") % 4 === 3), docs.filter(col("doc_id") % 4 =!= 3),
      n = 3, k = 128, bands = 32, threshold = 0.5))
    // candidate generation must be the (band, bh) equi-join — the only
    // corpus-scale exchange in the operator; a degradation to a product join
    // is batch×corpus at 100 TB
    assert("\\[band#\\d+, bh#\\d+L?\\], \\[band#\\d+, bh#\\d+L?\\]".r
        .findFirstIn(plan).isDefined,
      s"candidate join no longer keyed on (band, bh):\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"fuzzy incremental planned a product join:\n$plan")
    // the verified-duplicate id set is candidate-sized — the batch keep-filter
    // must consume it as a broadcast anti-join, not shuffle the batch again
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"keep-filter is not a broadcast anti-join:\n$plan")
  }

  test("topNgrams pushes a partial top-k below the single-partition rank exchange") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = executedPlan(graft.operators.TextAnalysis.topNgrams(docs, 2, 20))
    // Catalyst rewrites the rank<=k filter into TakeOrderedAndProject (each
    // partition keeps its local top-k, only k·partitions rows merge) — accept
    // WindowGroupLimit too, the equivalent pre-limit for windowed ranks
    assert(plan.contains("TakeOrderedAndProject") || plan.contains("WindowGroupLimit"),
      s"global rank not pre-limited per partition:\n$plan")
  }

  test("heavy hitters pre-limits the per-window rank below its exchange") {
    val envs = graft.sources.EventsAdapter.envelopes(spark, "/root/testdata/sf0.001")
    val plan = executedPlan(graft.operators.HeavyHitters.byWindow(envs, 86400L, "user_id", 5))
    assert(plan.contains("WindowGroupLimit"),
      s"per-group rank not pre-limited:\n$plan")
  }

  test("sessionization shuffles once on (session, tenant, key)") {
    val plan = executedPlan(graft.operators.Sessions.sessionize(
      graft.sources.EventsAdapter.envelopes(spark, "/root/testdata/sf0.001"), 3600L))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly one shuffle:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"sessionization must never collapse to a single partition:\n$plan")
  }

  test("the shipped reference spec corpus loads, validates and compiles") {
    val specs = SpecLoader.loadValidated(
      getClass.getResource("/aggregation-specifications.yaml").getPath)
    assert(specs.map(_.name) == Seq("Aggregation0", "Aggregation1", "Aggregation2",
      "Aggregation3", "Aggregation4"))
    assert(specs(4).rejectedDimensions == Map("hostname" -> "inactive-host", "device" -> ""))
    // every rule compiles and runs over a small envelope batch
    val envs = (0 to 4).flatMap { i =>
      Seq(MetricEnvelope(
        Metric(s"metric$i",
          Map("hostname" -> "test-01", "service" -> "svc", "cluster" -> "test-cluster-01"),
          1000000000000.0, 1.0, Map.empty),
        Map("tenantId" -> "t"), 0L))
    }
    val df = envs.toDF()
    specs.foreach { sp =>
      val out = RuleCompiler.compile(sp, 10L)(df).collect()
      assert(out.length == 1, s"${sp.name} emitted ${out.length} rows")
      assert(out.head.getStruct(0).getString(0) == sp.aggregatedMetricName)
    }
  }

  private lazy val shippedSpecs = SpecLoader.loadValidated(
    getClass.getResource("/aggregation-specifications.yaml").getPath)

  private def occurrences(plan: String, s: String): Int =
    java.util.regex.Pattern.quote(s).r.findAllIn(plan).length

  test("a whole rule config plans one scan, one parse and one exchange per aggregate stage") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-json")
    java.nio.file.Files.write(dir.resolve("part-0.jsonl"), java.util.List.of(
      """{"metric":{"name":"metric0","timestamp":1.0,"value":1.0},"meta":{"tenantId":"t"}}"""))
    // 25 rules in the five shipped shapes; one rollup re-windows
    val config25 = (0 until 25).map { i =>
      val s = shippedSpecs(i % 5).copy(name = s"Rule$i", filteredMetricName = s"metric$i")
      if (i == 8) s.copy(rollup = Some(graft.model.RollupSpec("sum", Seq("service"), Some(300L))))
      else s
    }
    Seq(shippedSpecs, config25).foreach { specs =>
      val plan = executedPlan(RuleCompiler.compileAll(specs.map(_ -> 60L))(
        graft.sources.EnvelopeJson.parse(spark.read.text(dir.toString))))
      assert(occurrences(plan, "FileScan") == 1, s"${specs.size} rules: one scan expected:\n$plan")
      assert(occurrences(plan, "from_json") == 1, s"${specs.size} rules: one parse expected:\n$plan")
      // the window aggregate, then the rollup (an identity group for rules without one)
      assert(occurrences(plan, "Exchange hashpartitioning") == 2,
        s"${specs.size} rules: one exchange per aggregate stage expected:\n$plan")
    }
  }

  /** `n` rules in the five shipped shapes (so the shipped functions), over
    * metrics metric0, metric1, …, with distinct output names. */
  private def shippedShapes(n: Int): Seq[AggregationSpec] = (0 until n).map { i =>
    shippedSpecs(i % 5).copy(name = s"Rule$i", filteredMetricName = s"metric$i",
      aggregatedMetricName = s"aggregated-metric$i")
  }

  /** A JSON-lines corpus with envelopes of metric0 … metric<n-1> that each
    * shape matches, filters out or rejects, over two windows. */
  private def shapesCorpus(n: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-rules")
    val lines = for {
      i <- 0 until n; host <- Seq("test-01", "test-02", "inactive-host")
      (svc, t) <- Seq("a" -> 1000L, "b" -> 2000L, "a" -> 61000L)
    } yield s"""{"metric":{"name":"metric$i","dimensions":{"hostname":"$host","service":"$svc",""" +
      s""""cluster":"test-cluster-01"},"timestamp":${1700000000000L + t}.0,""" +
      s""""value":${i + t / 1000}.0},""" +
      """"meta":{"tenantId":"t"}}"""
    java.nio.file.Files.write(dir.resolve("part-0.jsonl"), lines.asJava)
    dir.toString
  }

  private def compiledAll(specs: Seq[AggregationSpec], dir: String) =
    RuleCompiler.compileAll(specs.map(_ -> 60L))(
      graft.sources.EnvelopeJson.parse(spark.read.text(dir)))

  /** The largest method of each whole-stage-codegen subtree of an executed
    * plan, as Janino compiles it (-1 where it fails to compile). */
  private def largestMethods(plan: org.apache.spark.sql.execution.SparkPlan): Seq[Int] =
    org.apache.spark.sql.execution.debug.codegenStringSeq(plan).map(_._3.maxMethodCodeSize)

  /** HotSpot does not JIT-compile a method over 8,000 bytecode bytes. */
  private val HugeMethodLimit = 8000

  test("a rule config's generated code is compiled once: a second pass hits the codegen cache") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = shapesCorpus(25)
    def pass() = {
      val df = graft.sources.EnvelopeJson.serialize(compiledAll(shippedShapes(25), dir))
      (df.collect().length, df.queryExecution.executedPlan)
    }
    val (rows, plan) = pass()
    // the counters are JVM-wide: compare before and after the second pass
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(pass()._1 == rows && rows > 0)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "a second pass over the same config compiled new classes")
    val methods = largestMethods(plan)
    assert(methods.nonEmpty && methods.forall(m => m > 0 && m < HugeMethodLimit), s"$methods")
  }

  test("the plan of a rule config does not grow with its rules") {
    val dir = shapesCorpus(1)
    def expressionNodes(specs: Seq[AggregationSpec]) =
      compiledAll(specs, dir).queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect { case e => e }.size).sum
      }.sum
    assert(expressionNodes(shippedShapes(5)) == expressionNodes(shippedShapes(100)))
  }

  test("200 rules compile under the JIT's method limit and emit the per-rule rows", SlowTest) {
    val specs = shippedShapes(200)
    val dir = shapesCorpus(200)
    def envelopes(df: org.apache.spark.sql.DataFrame) =
      df.select($"metric.name", $"metric.dimensions", $"metric.timestamp", $"metric.value",
        $"meta".getItem("tenantId"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(_.toString)
    val all = envelopes(compiledAll(specs, dir))
    val emitted = rows(all)
    // the executed plan of a collected query is the final adaptive plan
    val methods = largestMethods(all.queryExecution.executedPlan)
    assert(methods.nonEmpty && methods.forall(m => m > 0 && m < HugeMethodLimit), s"$methods")
    val input = graft.sources.EnvelopeJson.parse(spark.read.text(dir))
    assert(emitted.sortBy(_.toString) ==
      specs.flatMap(s => rows(envelopes(RuleCompiler.compile(s, 60L)(input)))).sortBy(_.toString))
  }

  test("the service runs the shipped config as one query with two stateful aggregates") {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[MetricEnvelope]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-plan-ckpt").toString
    val q = graft.streaming.StreamRunner.start(shippedSpecs, input.toDF(), 1L, 1L, ckpt)(
      _.writeStream.format("noop"))
    try {
      input.addData((0 to 4).map(i => MetricEnvelope(Metric(s"metric$i",
        Map("hostname" -> "h", "service" -> "s", "cluster" -> "test-cluster-01"),
        1000000000000.0, 1.0, Map.empty), Map("tenantId" -> "t"), 0L)))
      q.processAllAvailable()
      assert(spark.streams.active.count(_.name == graft.streaming.StreamRunner.QueryName) == 1)
      assert(q.lastProgress.sources.length == 1)
      assert(q.lastProgress.stateOperators.length == 2,
        s"expected the window and rollup aggregates:\n${q.lastProgress.json}")
    } finally q.stop()
  }

  test("flagship entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("bloom decontam: map-side might_contain below a SHUFFLED confirm join") {
    // the scale contract: the benchmark set is NEVER broadcast — the Bloom
    // literal prunes map-side (codegen'd might_contain) and the exact
    // confirm is a shuffled hash semi-join on the 64-bit shingle hash
    val plan = executedPlan(
      SparkEntry.queries("dedup_decontam_bloom")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("might_contain"), s"bloom pre-filter missing:\n$plan")
    assert(plan.contains("ShuffledHashJoin") && plan.contains("LeftSemi"),
      s"confirm join is not a shuffled semi-join:\n$plan")
  }

  test("stratified quality cutoff: per-group cutoffs broadcast, corpus never reshuffled") {
    val plan = executedPlan(
      SparkEntry.queries("text_quality_cutoff_by")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("BroadcastHashJoin"),
      s"cutoff table must come back as a broadcast join:\n$plan")
    // the corpus side makes ONE narrow pass: the only hashpartitioning
    // exchange belongs to the sample's per-group percentile aggregate
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 1,
      s"corpus reshuffled for the stratified filter:\n$plan")
  }

  test("as-of join plans with NO join node: one union-wide shuffle + sort") {
    // the as-of is union + running window, never a join — a regression to a
    // real join (worst case a per-key quadratic SMJ or a BNLJ on the range
    // predicate) is THE scale hazard this pin guards
    val plan = executedPlan(
      SparkEntry.queries("join_asof")(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly one shuffle (the union-wide key partition):\n$plan")
    assert(plan.contains("Window"), s"running-window carrier missing:\n$plan")
  }

  test("time-split as-of: (key, chunk) window partitions, summaries partial-agg, no join") {
    // the skew fix only works if (a) the FULL-width exchange is keyed
    // (key, chunk) — a key-only partition would re-create the hot-key sort
    // this variant exists to remove — (b) the carry-in summaries are a
    // partial (map-side combined) aggregate, so the extra exchanges move
    // one row per (key, chunk), never events, and (c) nothing degenerated
    // into a join node
    val plan = executedPlan(
      SparkEntry.queries("join_asof_split")(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("Join"), s"split as-of must not plan a join:\n$plan")
    assert(plan.contains("hashpartitioning(__k"),
      s"expected (key, chunk)-keyed exchanges:\n$plan")
    assert("hashpartitioning\\(__k[^,)]*, __c".r.findAllIn(plan).nonEmpty,
      s"the window exchange must include the chunk in its key:\n$plan")
    assert(plan.contains("partial_max_by"),
      s"chunk summaries must map-side combine (partial_max_by) before " +
        s"their exchange:\n$plan")
  }
  test("nearest as-of: still no join node, ONE shuffle, both frames preceding") {
    // the two directional carriers must share the single key exchange (two
    // sorts are fine) and both run as incremental unbounded-PRECEDING
    // frames — an unboundedfollowing frame recomputes per row (O(n²)/key)
    val plan = executedPlan(
      SparkEntry.queries("join_asof_near")(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("Join"), s"nearest as-of must not plan a join:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly one shuffle shared by both carriers:\n$plan")
    assert(!plan.toLowerCase.contains("unboundedfollowing"),
      s"forward carrier must run on the reversed axis, not an " +
        s"unbounded-following frame:\n$plan")
  }

  test("range join binned is an EQUI-join on (key, bin) — never nested-loop") {
    val plan = executedPlan(
      SparkEntry.queries("join_range")(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"range join degenerated to a product:\n$plan")
    assert(plan.contains("__bin"), s"bin key missing from the join:\n$plan")
  }

  test("overlap join binned is an EQUI-join on (key, bin) — never nested-loop") {
    val plan = executedPlan(
      SparkEntry.queries("join_overlap")(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"overlap join degenerated to a product:\n$plan")
    assert(plan.contains("__bin"), s"bin key missing from the join:\n$plan")
  }

  test("weighted sample plans as TakeOrdered top-k — no global sort exchange") {
    val plan = executedPlan(
      SparkEntry.queries("sample_weighted")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected a TakeOrderedAndProject top-k:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"weighted sample must not globally sort the corpus:\n$plan")
  }

  test("whole-doc packing: ONE exchange on the shard, per-partition sort, no global sort") {
    val plan = executedPlan(
      SparkEntry.queries("sample_pack_whole")(spark, "/root/testdata/sf0.001"))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly one shuffle (on shard):\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"whole-doc packing must never globally sort:\n$plan")
    // the greedy scan must ride a WITHIN-partition sort under the exchange
    // (SortExec prints `Sort [keys], global, limit` — global must be false)
    assert("Sort \\[shard[^\\]]*\\], false".r.findFirstIn(plan).isDefined,
      s"expected a partition-local (shard, id) sort:\n$plan")
  }

  test("key-skew profile: TakeOrdered top-N, total rides a 1-row broadcast") {
    val plan = executedPlan(
      SparkEntry.queries("d5_keyskew")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected a TakeOrderedAndProject top-N (not a global sort):\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"key skew must never globally sort the counts:\n$plan")
    assert(plan.contains("partial_count"),
      s"key counting must combine map-side:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"the 1-row total must broadcast, never shuffle the survivors:\n$plan")
  }

  test("trailing aggregate: partial combine below the bucket exchange; the " +
      "RANGE frame runs over bucket rows, never raw events") {
    val plan = executedPlan(
      SparkEntry.queries("d7_trailing")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"bucket aggregation must combine map-side:\n$plan")
    assert(plan.contains("Window"), s"trailing frame missing:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"trailing aggregate must never globally sort:\n$plan")
    // the window sits ABOVE the aggregate: its input is bucket rows
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.indexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"window must consume the pre-aggregated buckets:\n$plan")
  }

  test("KMV sketch: partial WindowGroupLimit below ONE exchange — the shuffle " +
      "moves bottom-k candidates, never the distinct value set") {
    val plan = executedPlan(
      SparkEntry.queries("sketch_kmv_distinct")(spark, "/root/testdata/sf0.001"))
    // tree order: Final WGL above the Exchange, Partial WGL below it — so
    // the Partial node must appear AFTER the Exchange in the plan string
    assert("Exchange[\\s\\S]*?WindowGroupLimit[^\\n]*Partial".r
      .findFirstIn(plan).isDefined,
      s"bottom-k must run map-side (Partial WindowGroupLimit) before the " +
        s"group exchange:\n$plan")
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"the sketch needs exactly ONE exchange (distinct + estimator reuse " +
        s"the group partitioning):\n$plan")
  }

  test("histogram quantiles: partial bin counts below the first exchange; " +
      "everything after is bins-sized (two exchanges total)") {
    val plan = executedPlan(
      SparkEntry.queries("sketch_hist_quantile")(spark, "/root/testdata/sf0.001"))
    assert("Exchange[\\s\\S]*?partial_count".r.findFirstIn(plan).isDefined,
      s"bin counts must map-side combine below their exchange:\n$plan")
    assert("Exchange".r.findAllIn(plan).size == 2,
      s"exactly two exchanges (bin counts, then the group window — the " +
        s"final quantile agg must reuse the group partitioning):\n$plan")
  }

  test("cross-table LSH join: candidates meet in an equi-join on (tbl, bucket) " +
      "— never a product") {
    val plan = executedPlan(
      SparkEntry.queries("sim_lsh_join")(spark, "/root/testdata/sf0.001"))
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[tbl".r
      .findFirstIn(plan).isDefined,
      s"bucket join must be keyed on (tbl, bucket):\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"cross-table LSH join planned a product:\n$plan")
  }

  test("cell-balanced sample: narrow argmax assignment, per-cell cap pushed " +
      "below the one exchange") {
    try {
      val plan = executedPlan(
        SparkEntry.queries("sample_cell_balanced")(spark, "/root/testdata/sf0.001"))
      assert(plan.contains("WindowGroupLimit"),
        s"per-cell cap must run as a partial top-k below the shuffle:\n$plan")
      assert(!plan.contains("rangepartitioning"),
        s"cell cap must never globally sort:\n$plan")
      // exactly one data exchange (the cell hash partitioning)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected ONE exchange, found $exchanges:\n$plan")
    } finally spark.catalog.clearCache()
  }

  test("BM25: query-term filter sits under the hit aggregation; dl rides the " +
      "explode — no corpus-wide length join") {
    try {
      val plan = executedPlan(
        SparkEntry.queries("text_bm25")(spark, "/root/testdata/sf0.001"))
      // the isin prune runs below any exchange: only hit rows shuffle
      val lastExchange = plan.lastIndexOf("Exchange hashpartitioning")
      assert(lastExchange >= 0 && plan.indexOf(" IN (hash,", lastExchange) > 0,
        s"query-term isin filter must sit below the exchanges:\n$plan")
      // the hit relation is persisted for its tf/df consumers
      assert(plan.contains("InMemoryTableScan"),
        s"hit relation must be cached:\n$plan")
      // stats ride a 1-row broadcast; no corpus-scale sort-merge join
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastExchange"),
        s"n_docs/avgdl must broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"no corpus-wide join may appear in the BM25 plan:\n$plan")
    } finally spark.catalog.clearCache()
  }

  test("salted count: first exchange keys on (key, salt), second on the key alone") {
    val plan = executedPlan(
      SparkEntry.queries("d6_saltedcount")(spark, "/root/testdata/sf0.001"))
    // stage 1 must spread a hot key over saltFactor reducers: the first
    // shuffle's partitioning carries BOTH the key and the salt
    assert("hashpartitioning\\(source[^)]*__graft_salt".r.findFirstIn(plan).isDefined,
      s"first exchange must key on (source, salt):\n$plan")
    // stage 2 collapses the sub-counts: a second exchange on the key alone
    assert("hashpartitioning\\(source#\\d+, \\d+\\)".r.findFirstIn(plan).isDefined,
      s"second exchange must key on source alone:\n$plan")
    // both stages combine map-side
    assert(plan.contains("partial_count"),
      s"salted sub-counts must combine map-side:\n$plan")
  }

  test("brute-force corpus side reads from the cache — the input chain can " +
      "never be re-evaluated per pair") {
    // round-10 regression: without the cache boundary CollapseProject
    // inlined sim_topk_q8's quantize∘dequantize chain (three interpreted
    // higher-order transforms) into the per-PAIR score — 43× slower than
    // the identical search over raw embeddings
    try {
      val plan = executedPlan(
        SparkEntry.queries("sim_topk_q8")(spark, "/root/testdata/sf0.001"))
      assert(plan.contains("InMemoryTableScan"),
        s"corpus unit vectors must be persisted:\n$plan")
      // the pair-scoring stage sits ABOVE the cache: no higher-order
      // transform may appear after the InMemoryTableScan boundary
      val above = plan.substring(0, plan.indexOf("InMemoryTableScan"))
      assert(!above.contains("transform("),
        s"quantization chain leaked above the cache boundary:\n$plan")
    } finally spark.catalog.clearCache()
  }

  test("compressed-domain top-k: integer dot scoring over the cached int8 " +
      "corpus, queries broadcast, no dequantize anywhere") {
    try {
      val df = SparkEntry.queries("sim_topk_q8i")(spark, "/root/testdata/sf0.001")
      val plan = executedPlan(df)
      assert(plan.contains("InMemoryTableScan"),
        s"int8 corpus must be persisted:\n$plan")
      assert(plan.contains("BroadcastExchange") ||
        plan.contains("BroadcastNestedLoopJoin"),
        s"query side must broadcast:\n$plan")
      assert(plan.contains("longdotproduct"),
        s"pair scoring must be the codegen'd integer dot:\n$plan")
      // the whole point of SQ8: nothing above the cache dequantizes
      val above = plan.substring(0, plan.indexOf("InMemoryTableScan"))
      assert(!above.contains("transform("),
        s"a per-pair array transform crept into the scoring stage:\n$plan")
    } finally spark.catalog.clearCache()
  }

  test("PQ-ADC: per-pair scoring is table lookups only — no vector " +
      "arithmetic above the cached code relation") {
    try {
      val plan = executedPlan(
        SparkEntry.queries("sim_topk_pq")(spark, "/root/testdata/sf0.001"))
      assert(plan.contains("InMemoryTableScan"),
        s"PQ codes must be persisted:\n$plan")
      assert(plan.contains("BroadcastExchange") ||
        plan.contains("BroadcastNestedLoopJoin"),
        s"query/LUT side must broadcast:\n$plan")
      // everything above the cache boundary must be element_at adds — any
      // dot product or array lambda there means ADC degenerated to per-pair
      // vector math
      val above = plan.substring(0, plan.indexOf("InMemoryTableScan"))
      assert(above.contains("element_at"),
        s"ADC lookups missing from the pair stage:\n$plan")
      assert(!above.contains("dotproduct") && !above.contains("zip_with") &&
        !above.contains("transform("),
        s"vector arithmetic leaked into the per-pair ADC stage:\n$plan")
    } finally spark.catalog.clearCache()
  }

  test("IVF-PQ: probe is an equi-join on the cell over the cached index; " +
      "pair stage is lookups only") {
    try {
      val plan = executedPlan(
        SparkEntry.queries("sim_ivfpq_topk")(spark, "/root/testdata/sf0.001"))
      assert(plan.contains("InMemoryTableScan"),
        s"the (id, cell, codes) index must be persisted:\n$plan")
      // candidate pruning must be a keyed join on the cell — never a
      // product over the corpus
      assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[cell".r
        .findFirstIn(plan).isDefined,
        s"probe must be an equi-join on cell:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"IVF-PQ planned a cartesian product:\n$plan")
      // the per-PAIR score projection (the line computing `adc`) must be
      // pure table lookups — the query-side LUT/cell lines may (and do)
      // contain dot products, computed once per query, so the textual
      // boundary check used for flat PQ doesn't apply here
      val adcLines = plan.linesIterator.filter(_.contains(" AS adc")).toSeq
      assert(adcLines.exists(_.contains("element_at")),
        s"ADC lookup projection missing:\n$plan")
      assert(!adcLines.exists(l => l.contains("dotproduct") || l.contains("zip_with")),
        s"vector arithmetic leaked into the ADC pair projection:\n${adcLines.mkString("\n")}")
    } finally spark.catalog.clearCache()
  }

  test("CDC merge: one exchange, no join, partial top-1 below the shuffle") {
    val plan = executedPlan(
      SparkEntry.queries("cdc_merge")(spark, "/root/testdata/sf0.001"))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"merge must move each row exactly once:\n$plan")
    assert(!plan.contains("Join"),
      s"merge must be the union+top-1 shape, not a join:\n$plan")
    // the row_number()=1 filter must optimize to WindowGroupLimit on BOTH
    // sides of the exchange — the map-side partial prunes shadowed base
    // rows before they ever ship
    assert("WindowGroupLimit".r.findAllIn(plan).length == 2,
      s"per-key top-1 not pushed below the exchange:\n$plan")
  }

  test("SCD-2: one exchange feeds both windows; no re-aggregation") {
    val plan = executedPlan(
      SparkEntry.queries("cdc_scd2")(spark, "/root/testdata/sf0.001"))
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"boundary-detect and valid_to lead must share one shuffle:\n$plan")
    assert("Window".r.findAllIn(plan).length == 2 && !plan.contains("Aggregate"),
      s"expected two pipelined windows over one sort:\n$plan")
  }

  test("snapshot diff: keyed full-outer join, never a product") {
    val plan = executedPlan(
      SparkEntry.queries("cdc_diff")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("FullOuter"), s"diff needs full-outer semantics:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"diff degenerated to a product:\n$plan")
  }

  test("CUBE aggregates in one pass: Expand + partial agg + one exchange") {
    val plan = executedPlan(
      SparkEntry.queries("agg_cube")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("Expand"), s"grouping sets must Expand, not rescan:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"all four granularities must share one shuffle:\n$plan")
    assert(plan.contains("partial_count"),
      s"no map-side partial aggregation under the cube:\n$plan")
  }

  test("edit-distance join: variant equi-join, candidates dedup before the " +
      "Levenshtein confirm, never all-pairs") {
    val plan = executedPlan(
      SparkEntry.queries("join_editdist")(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"deletion-neighborhood join degenerated to all-pairs:\n$plan")
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findFirstIn(plan).isDefined, s"expected a keyed variant join:\n$plan")
    // the banded confirm must ride the join condition (Catalyst pushes it
    // through the distinct) so the dedup aggregation buffers only TRUE
    // matches — its state is bounded by the result, not the collisions
    val joinLine = plan.linesIterator.find(_.contains("Join")).get
    assert(joinLine.contains("levenshtein"),
      s"banded confirm not pushed into the join:\n$joinLine")
    assert(plan.contains("HashAggregate"),
      s"candidate dedup disappeared:\n$plan")
  }

  test("MAD flags: both median windows ride one exchange") {
    val series = Seq(("t0", 0L, 1.0), ("t0", 1L, 2.0))
      .toDF("tenant_id", "window_start", "value")
    val plan = executedPlan(
      graft.operators.Anomaly.madFlags(series, Seq("tenant_id"), "value", 3.5))
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"median and MAD must share one shuffle:\n$plan")
    assert("Window".r.findAllIn(plan).length == 2,
      s"expected two pipelined window passes:\n$plan")
  }

  test("Count-Min: map-side partial cells below the build exchange; " +
      "probe joins the broadcast sketch") {
    val plan = executedPlan(
      SparkEntry.queries("sketch_cms")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("partial_count"),
      s"cell counts must combine map-side:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"the d·w-cell sketch must broadcast to the probes:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"CMS probe planned a product:\n$plan")
  }

  test("PCA projection is a narrow map — components ride as literals, " +
      "nothing shuffles") {
    val plan = withoutScanFloor(executedPlan(
      SparkEntry.queries("emb_pca")(spark, "/root/testdata/sf0.001")))
    assert(!plan.contains("Exchange"),
      s"projection must not shuffle the corpus:\n$plan")
    assert(!plan.contains("Join"), s"projection must not join:\n$plan")
  }

  test("multi-query BM25: shared postings cached, query terms broadcast, " +
      "per-query top-k as WindowGroupLimit") {
    try {
      val plan = executedPlan(
        SparkEntry.queries("text_bm25_topk")(spark, "/root/testdata/sf0.001"))
      assert(plan.contains("InMemoryTableScan"),
        s"postings must be persisted (built once for all queries):\n$plan")
      assert(plan.contains("BroadcastExchange"),
        s"query-term table must broadcast:\n$plan")
      assert(plan.contains("WindowGroupLimit"),
        s"per-query top-k must prune below the rank window:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"retrieval join planned a product:\n$plan")
    } finally spark.catalog.clearCache()
  }

  test("compressed-domain top-k agrees with the dequantized brute force", SlowTest) {
    try {
      val dir = "/root/testdata/sf0.001"
      val a = SparkEntry.queries("sim_topk_q8")(spark, dir)
        .collect().map(_.toSeq).toSet
      val b = SparkEntry.queries("sim_topk_q8i")(spark, dir)
        .collect().map(_.toSeq).toSet
      // mathematically the same score (scales cancel); on this data the
      // double round-off never reorders a rank
      assert(a == b, s"q8 (dequantized) and q8i (integer) neighbor sets differ")
    } finally spark.catalog.clearCache()
  }

  test("AMS F2: one map-side-combined global aggregate — no keyed shuffle at all") {
    val plan = executedPlan(
      SparkEntry.queries("sketch_ams_f2")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("partial_sum"),
      s"counter sums must combine map-side:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"a global 40-counter aggregate needs only the single-partition combine:\n$plan")
  }

  test("retention: keyed aggregates and joins only, nothing re-reads raw " +
      "events after the first distinct") {
    val plan = executedPlan(
      SparkEntry.queries("d10_retention")(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"retention must stay keyed:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_min"),
      s"aggregates must combine map-side:\n$plan")
  }

  test("profile diff: the multi-column distinct profile plans as one Expand " +
      "pass per side, never a product") {
    val plan = executedPlan(
      SparkEntry.queries("profile_diff")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("Expand"),
      s"exact multi-distinct must ride the Expand lanes:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the diff join is keyed on the column name:\n$plan")
  }

  test("triangle counting: every join is keyed — no product anywhere; the " +
      "oriented relation is cached, not rebuilt per consumer") {
    try {
      val plan = executedPlan(
        SparkEntry.queries("graph_triangles")(spark, "/root/testdata/sf0.001"))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"wedge/closure stages must be equi-joins:\n$plan")
      assert(plan.contains("InMemoryTableScan"),
        s"the oriented relation feeds three consumers and must be cached:\n$plan")
    } finally spark.catalog.clearCache()
  }

  test("prefix-filtered Jaccard: keyed candidate join over the prefix index, " +
      "no product, shingle sets cached for the verify joins") {
    try {
      val plan = executedPlan(
        SparkEntry.queries("dedup_prefix")(spark, "/root/testdata/sf0.001"))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"candidate generation must stay an equi-join:\n$plan")
      assert(plan.contains("InMemoryTableScan"),
        s"the shingle-set relation feeds three consumers and must be cached:\n$plan")
    } finally spark.catalog.clearCache()
  }

  test("portable HLL: registers build with partial max below the exchange; " +
      "the linear-counting LUT joins as a broadcast") {
    val plan = executedPlan(
      SparkEntry.queries("sketch_hll_distinct")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("partial_max"),
      s"register max must combine map-side:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the m-row LUT must broadcast:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"register build degraded to sort aggregation:\n$plan")
  }

  test("binary-sign top-k: hamming candidates prune below the exchange " +
      "(WindowGroupLimit); vectors never ride the hamming shuffle") {
    try {
      val df = SparkEntry.queries("sim_topk_b1")(spark, "/root/testdata/sf0.001")
      val plan = executedPlan(df)
      assert(plan.contains("WindowGroupLimit"),
        s"candidate top-rerank must prune partially below the shuffle:\n$plan")
      assert(plan.contains("InMemoryTableScan"),
        s"corpus unit vectors must be persisted:\n$plan")
      // the hamming-stage exchange must move (query_id, neighbor_id,
      // hamming) — the unit-vector arrays join back AFTER candidate pruning
      val hamEx = plan.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning(query_id"))
        .mkString("\n")
      assert(hamEx.nonEmpty, s"missing the candidate window exchange:\n$plan")
      assert(!hamEx.contains("qu#") && !hamEx.contains("cu#"),
        s"unit vectors leaked into the hamming exchange:\n$hamEx")
    } finally spark.catalog.clearCache()
  }

  test("learned-BPE apply: merge chain rides ONE projection — no join, " +
      "one map-side-combined exchange") {
    val df = graft.operators.TextAnalysis.bpeEncodedCounts(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      Seq(("e", "s"), ("es", "t"), ("l", "o")))
    val plan = executedPlan(df)
    assert(!plan.contains("Join"),
      s"the literal merge table must not become a join:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"piece counts must combine map-side:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly one shuffle:\n$plan")
  }

  test("sliding windows: the Expand fan-out stays below the partial aggregation") {
    val plan = executedPlan(
      SparkEntry.queries("w2_sliding")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("Expand"), s"sliding window lost its Expand:\n$plan")
    assert(plan.contains("partial_count"), s"no map-side combine:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly one shuffle:\n$plan")
    // top-down print: final agg ← Exchange ← partial agg ← Expand ← scan,
    // so the Expand must appear BELOW (after) the exchange — the 4× row
    // fan-out is collapsed by the partial agg before anything shuffles
    assert(plan.indexOf("Expand") > plan.indexOf("Exchange hashpartitioning"),
      s"Expand leaked above the exchange:\n$plan")
  }

  test("native BPE apply is a pure narrow map — zero exchanges, no explode") {
    val df = graft.operators.TextAnalysis.bpeEncodedCountsFast(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      Seq(("e", "s"), ("es", "t"), ("l", "o")))
    val plan = executedPlan(df)
    assert(!plan.contains("Exchange"),
      s"the native apply must not shuffle at all:\n$plan")
    assert(!plan.contains("Generate"),
      s"the native apply must not explode tokens:\n$plan")
  }

  test("paired randomization reads CACHED per-pair stats — the resample " +
      "fan-out never re-evaluates per-pair work") {
    // the round-16 bench catch: Catalyst collapses projections through
    // the ×(R+1) crossJoin, re-running the pair-stat computation per
    // resample row (13.7 s vs 1.3 s). The operators persist the pair
    // relation and the per-resample relation — pin both cache reads
    try {
      for (q <- Seq("eval_ab_paired_mean", "eval_ab_paired",
          "eval_ab_paired_chrf")) {
        val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        val plan = executedPlan(df)
        assert("InMemoryTableScan".r.findAllIn(plan).length >= 2,
          s"$q must read both the pair cache and the per-resample cache:\n" +
            plan.take(4000))
      }
    } finally spark.catalog.clearCache()
  }

  test("native byte-level BPE apply is a pure narrow map — zero exchanges, " +
      "no explode") {
    val df = graft.operators.TextAnalysis.bbpeEncodedCountsFast(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      Seq(("74", "68"), ("7468", "65"), ("69", "6E")))
    val plan = executedPlan(df)
    assert(!plan.contains("Exchange"),
      s"the native byte-level apply must not shuffle at all:\n$plan")
    assert(!plan.contains("Generate"),
      s"the native byte-level apply must not explode tokens:\n$plan")
  }

  test("water-filling: the K-row count relation is cached — every consumer " +
      "reads the one corpus aggregation, never re-scanning") {
    try {
      val df = SparkEntry.queries("sample_waterfill")(spark, "/root/testdata/sf0.001")
      val plan = executedPlan(df)
      // the count aggregate is persisted; its three consumers (interval
      // solve, totals, final alloc projection) must all read the cache
      assert("InMemoryTableScan".r.findAllIn(plan).length >= 2,
        s"count relation consumers must share the cache:\n$plan")
    } finally spark.catalog.clearCache()
  }

  test("centroid drift: per-generation aggregation, keyed full-outer — no products") {
    val df = SparkEntry.queries("drift_centroid")(spark, "/root/testdata/sf0.001")
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct"),
      s"centroid drift must never form a product:\n$plan")
    assert(plan.contains("FullOuter") || plan.contains("full_outer") ||
      plan.contains("FullOuterJoin") || plan.toLowerCase.contains("fullouter"),
      s"group membership must ride a full-outer join:\n$plan")
  }

  test("banding eval: candidates come from keyed equi-joins — no products") {
    val df = SparkEntry.queries("dedup_banding_eval")(spark, "/root/testdata/sf0.001")
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"banding eval must never form a product:\n$plan")
    assert(plan.contains("partial_min"),
      s"signature slot mins must combine map-side:\n$plan")
  }

  test("ranking metrics: the hit join and metric roll-up never form a product") {
    val ranked = Seq((1L, 10L, 1L), (1L, 11L, 2L)).toDF("query_id", "doc_id", "rank")
    val rel = Seq((1L, 10L)).toDF("query_id", "doc_id")
    val plan = executedPlan(graft.operators.Eval.rankingMetrics(ranked, rel, 5))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"ranking metrics must stay keyed:\n$plan")
  }

  test("generation pair stats are a pure narrow map over the pair scan — " +
      "zero exchanges, no explode; corpus BLEU adds exactly the one-row " +
      "partial-agg exchange") {
    val pairs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "text AS cand", "text AS ref")
    val stats = graft.operators.Eval.generationPairStats(pairs)
    val plan = executedPlan(stats)
    assert(!plan.contains("Exchange") && !plan.contains("Generate"),
      s"generation stats must not shuffle or explode:\n$plan")
    val bleuPlan = executedPlan(graft.operators.Eval.corpusBleu(stats))
    assert("Exchange".r.findAllIn(bleuPlan).length == 1 &&
      bleuPlan.contains("partial_count"),
      s"corpus BLEU must be one map-side-combined single-row aggregate:\n$bleuPlan")
  }

  test("memorization audit: the generation Bloom filter reaches the corpus " +
      "scan stage; no product join anywhere") {
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val gens = docsDf.selectExpr("doc_id", "substr(text, 1, 40) AS text")
    val plan = executedPlan(
      graft.operators.Dedup.memorizationScores(gens, docsDf, n = 3))
    assert(plan.contains("might_contain"),
      s"corpus shingles must die map-side behind the Bloom literal:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"memorization must stay keyed:\n$plan")
  }

  test("native generation-eval fast path is a pure narrow map — zero " +
      "exchanges, no explode, struct fields shared via subexpression " +
      "elimination") {
    val pairs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "text AS cand", "text AS ref")
    val plan = executedPlan(
      graft.operators.Eval.generationPairStatsFast(pairs))
    assert(!plan.contains("Exchange") && !plan.contains("Generate"),
      s"the fast pair-stats scan must not shuffle or explode:\n$plan")
    assert(plan.toLowerCase.contains("pairtokenstats"),
      s"the native expression must be in the plan:\n$plan")
  }

  test("native unigram apply is a pure narrow map — zero exchanges, no explode " +
      "(the bpe_apply_fast contract for the Viterbi family)") {
    val costs = Map("a" -> 10L, "b" -> 12L, "ab" -> 15L, "c" -> 9L)
    val df = graft.operators.TextAnalysis.unigramEncodedCounts(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), costs)
    val plan = executedPlan(df)
    assert(!plan.contains("Exchange"),
      s"the native unigram apply must not shuffle at all:\n$plan")
    assert(!plan.contains("Generate"),
      s"the native unigram apply must not explode tokens:\n$plan")
  }

  test("span decontamination: benchmark side broadcast, no products, and the " +
      "rebuild is one hash aggregation over the chunk relation") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bench = docs.filter($"doc_id" % 50 === 0).select("doc_id", "text")
    // the scoring subtree, pinned through the public sibling that shares
    // spanScores — decontaminateSpans now EAGERLY materializes its rebuild
    // (the round-15 cache-release fix), so its returned plan is the survivor
    // join over a LogicalRDD and the scoring exchanges execute inside the
    // call rather than appearing in the returned plan
    val scoring = executedPlan(graft.operators.Dedup.contaminationSpans(
      docs.filter($"doc_id" % 50 =!= 0), bench, 3, 16, 5, 0.5))
    assert(scoring.contains("BroadcastExchange"),
      s"benchmark shingles must broadcast:\n$scoring")
    assert(!scoring.contains("CartesianProduct"),
      s"span scoring must never form a product:\n$scoring")
    // end-to-end: the eager operator's returned plan stays keyed too, and
    // the chunk cache it used internally is RELEASED (no leaked relation —
    // the round-15 advice fix)
    val plan = executedPlan(graft.operators.Dedup.decontaminateSpans(
      docs.filter($"doc_id" % 50 =!= 0), bench, 3, 16, 5, 0.5))
    assert(!plan.contains("CartesianProduct"),
      s"span rebuild must never form a product:\n$plan")
    // the SPECIFIC chunk relation must be released (same logical plan →
    // same cache key; storageLevel is the public cache-lookup). A global
    // cacheManager.isEmpty would race other suites on the shared session.
    val chunksAgain = graft.operators.TextAnalysis.chunkByContent(
      docs.filter($"doc_id" % 50 =!= 0), 16, 5)
    assert(chunksAgain.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "decontaminateSpans must not leak its cached chunk relation")
  }

  test("audio fingerprint: narrow decode — only (doc_id, afp) ever reaches " +
      "an exchange, and the dedup grouping is the lone shuffle") {
    val df = SparkEntry.queries("mm_audio_dedup")(spark, "/root/testdata/sf0.001")
    val plan = executedPlan(df)
    // the grouping by afp (plus the pid join's exchanges) — but never a
    // shuffle of the synthesized media bytes themselves
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"audio dedup must stay keyed:\n$plan")
  }

  test("jpeg decode gate: keyed plan — encoded media dies inside the decode " +
      "stage, never a product") {
    val df = SparkEntry.queries("mm_decode_jpeg")(spark, "/root/testdata/sf0.001")
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"jpeg dedup must stay keyed:\n$plan")
    // the heavy binary column must not survive into any exchange: decode
    // runs in mapPartitions and only (pid, dims, sums) rows leave the stage
    assert(!"Exchange[^\\n]*media".r.findFirstIn(plan).isDefined,
      s"media bytes reached an exchange:\n$plan")
  }

  test("pack efficiency: both aggregates reuse the batching window's " +
      "(bucket, shard) exchange — one shuffle total") {
    val df = SparkEntry.queries("report_pack_efficiency")(spark, "/root/testdata/sf0.001")
    val plan = executedPlan(df)
    // HashPartitioning(bucket, shard) satisfies ClusteredDistribution for
    // BOTH downstream groupings ((b,s,batch) and (b,s)), so the window's
    // exchange is the only one in the plan
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"pack efficiency must not re-shuffle after the batching window:\n$plan")
  }

  test("frame near-dup: banded equi-join, never the frame-pair product") {
    val df = SparkEntry.queries("mm_frames_neardup")(spark, "/root/testdata/sf0.001")
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"frame near-dup must stay a (blk, bits)-keyed join:\n$plan")
  }

  test("video dedup: per-video fold then signature compaction — two keyed " +
      "exchanges, the binary column never shuffles") {
    val df = SparkEntry.queries("mm_video_dedup")(spark, "/root/testdata/sf0.001")
    val plan = executedPlan(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"video dedup must stay keyed:\n$plan")
    // the heavy media bytes die inside the decode stage: no exchange row
    // type may carry the media column
    assert(!"Exchange[^\\n]*media".r.findFirstIn(plan).isDefined,
      s"media bytes must not reach an exchange:\n$plan")
  }
}
