package graft

import org.apache.spark.sql.SparkSession

/** The one local session every entry point runs on, so a plan shown by a
  * dev tool is the plan Bench and Verify run. The core count comes from
  * the deployment variable SPARK_GRAFT_CPUS (default 4). */
object GraftSession {
  /** SPARK_GRAFT_CPUS as a core count: unset → 4, anything but a positive
    * integer is rejected. */
  def parseCpus(value: Option[String]): Int = value.fold(4) { v =>
    v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** The local session. Its generated-class cache size is set by the
    * extension it installs (`GraftExtensions.CodegenCacheEntries`). */
  def local(cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // AQE headroom: start shuffles fine-grained (8x cores) and let
      // coalescing shrink the small ones — a fixed 1-partition-per-core
      // count makes the heavy set-sim verification shuffles spill at
      // sf3+ (the r15 sf10 spot-check's q190 5.2x reading; one bench
      // session recorded q190/q196 OOM at sf3 under accumulated state).
      // At cluster scale this IS the documented knob; adaptive initial
      // sizing is its data-proportional form.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
