package graft

/** Plan-inspection helper: prints the formatted physical plan of selected
  * SparkEntry queries so scan pushdown, partial aggregation, broadcast choice
  * and codegen spans can be reviewed (`sbt "runMain graft.Explain f1_name_filter ..."`). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Bench.session("4")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
