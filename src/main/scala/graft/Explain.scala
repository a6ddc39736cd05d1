package graft

/** Dev tool: dump formatted physical plans for selected queries (plan-audit
  * loop — check pushdown, broadcast choices, codegen spans).
  * Usage: runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val which = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = LocalSession(4)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (which.isEmpty || which(name)) {
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
