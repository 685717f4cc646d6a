package graft

/** Dev tool: dump `explain("formatted")` for selected queries (all by
  * default, or names as args) — the plan-shape audit loop behind the scale
  * notes in SCALING.md. Usage:
  *   sbt "runMain graft.Explain q03_join_topk_revenue ..."
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(GraftSession.envCores)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          println(s"\n========== $name ==========")
          try fn(spark, sfDir).explain("formatted")
          catch { case e: Throwable => println(s"error: ${e.getMessage}") }
        case None => println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
