package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * TIMEOUT-PROOF BY CONSTRUCTION (CORRECTNESS_r10.json came back `{}` —
  * the driver's run died mid-loop and, because oracle_sql.json was written
  * LAST, the whole round's correctness signal was zeroed):
  *   1. oracle_sql.json is written FIRST, before any query runs;
  *   2. queries run CHEAPEST-FIRST (ordered by the committed bench records,
  *      [[Bench.previousRoundTimes]]; unknown queries at the known median),
  *      so an interrupted run still yields the most green rows possible;
  *   3. each completed query appends to `_graft_progress.txt` and logs
  *      `[verify] k/N name ok|failed` — partial runs are auditable.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()

    // ---- 1. oracle_sql.json FIRST ----
    writeOracleSql(outDir)

    // ---- 2. cheapest-first ordering from the committed full bench record ----
    val names = {
      // local-iteration filter (unset on the driver): run only these queries
      val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
      val tier = SparkEntry.tierFilter() // SPARK_GRAFT_TIER=core|extended|all
      SparkEntry.queries.keys.toSeq
        .filter(n => only.forall(_.contains(n)) && tier(n)).sorted
    }
    val known = Bench.previousRoundTimes()
    val defaultCost =
      if (known.isEmpty) 0.0
      else known.values.toSeq.sorted.apply(known.size / 2)
    val ordered = names.sortBy(n => (known.getOrElse(n, defaultCost), n))

    // ---- 3. incremental dump with progress markers ----
    val progress = Paths.get(s"$outDir/_graft_progress.txt")
    var ok = 0
    ordered.zipWithIndex.foreach { case (name, i) =>
      val status =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          ok += 1; "ok"
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          "failed"
        }
      println(s"[verify] ${i + 1}/${ordered.size} $name $status")
      try Files.writeString(progress, s"$name $status\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      catch { case _: Throwable => () }
    }
    println(s"[verify] $ok/${ordered.size} complete")
    spark.stop()
  }

  /** `<outDir>/oracle_sql.json`: every query name → its DuckDB oracle SQL. */
  private[graft] def writeOracleSql(outDir: String): Unit =
    new ObjectMapper().writeValue(new java.io.File(outDir, "oracle_sql.json"),
      SparkEntry.oracleSql.asJava)
}
