package graft

/** Diagnostic: print formatted physical plans for selected queries
  * (`runMain graft.PlanAudit <sfDir> [query ...]`), to audit pushdown,
  * broadcast choices, and whole-stage-codegen coverage. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = GraftSession(4, logLevel = "ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.isEmpty || names(name)) {
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
