package graft.tools

import org.apache.spark.sql.SparkSession

/** Time individual queries: runMain graft.tools.TimeQ <sfDir> <q1> [q2 ...]
  * Prints one `name seconds rows` line per query — the per-query dev loop
  * behind Bench's full sweep. SPARK_GRAFT_EXPLAIN=1 also prints each
  * query's formatted plan. */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    run(spark, args(0), args.drop(1).toSeq,
      explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
    spark.stop()
  }

  /** Checks every name before running any, then times each query. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String], explain: Boolean): Unit = {
    graft.SparkEntry.requireKnown(names, "TimeQ")
    names.foreach { n =>
      // time construction + count, exactly like Bench.once: queries with
      // eager staging (localCheckpoint loops — q107, the staged index
      // builders) do their real work during CONSTRUCTION, and timing
      // only the count() under-measured them by 20x+
      graft.engine.Staging.beginTransient() // Bench.once parity
      val t0 = System.nanoTime()
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        if (explain) { println(s"=== PLAN $n ==="); df.explain("formatted") }
        val rows = df.count()
        println(f"TIMEQ $n ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$rows")
      } finally graft.engine.Staging.releaseTransient()
    }
  }
}
