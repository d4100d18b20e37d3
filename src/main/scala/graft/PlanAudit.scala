package graft

/** Dumps the optimized physical plan of every SparkEntry query to
  * stdout — the .explain audit loop: check pushdown reaches the scan,
  * small joins broadcast, codegen spans are wide, no accidental
  * shuffles. Run: sbt "runMain graft.PlanAudit [queryName...]" */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val selected = SparkEntry.select(args.toSeq)
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val names = if (args.nonEmpty) args.toSeq else selected.keys.toSeq.sorted
    for (n <- names) {
      println(s"\n===== $n =====")
      try selected(n)(spark, dir).explain("formatted")
      catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
    }
    spark.stop()
  }
}
