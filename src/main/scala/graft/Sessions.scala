package graft

import org.apache.spark.sql.SparkSession

/** The session settings shared by the program's own entry points
  * (`Verify`, `Bench`, `MicroBench`, `Explain`) and the test suite. */
object Sessions {

  /** A `local[cpus]` builder with `cpus` shuffle partitions, UTC session
    * time and no UI. The codegen cache holds 5000 generated classes instead
    * of Spark's default 100: a session that runs many operator families
    * needs more than 100 at once, and each eviction is a recompile. */
  def local(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
}
