package graft

/** Times a single registered query cold (no warmup): `sbt "runMain
  * graft.TimeOne <queryName> <sfDir>"`. Complements Bench (which
  * warms up and reports steady-state minimums) when isolating one
  * query's end-to-end cost.
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val name = args(0); val dir = args(1)
    // optional third arg: repetitions in ONE session — rep 1 is the
    // cold cost (codegen, footers), later reps the steady state
    val reps = if (args.length > 2) args(2).toInt else 1
    for (i <- 1 to reps) {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, dir).count()
      println(s"TIMING $name rep=$i rows=$n sec=${(System.nanoTime()-t0)/1e9}")
    }
    spark.stop()
  }
}
