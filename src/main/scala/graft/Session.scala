package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession factory every main and the test
  * session build through, so their configs cannot drift apart. A
  * setting only one caller needs is a runtime `spark.conf.set` at that
  * caller; only static confs (fixed at session build) live here. */
object Session {

  /** Local parallelism: `SPARK_GRAFT_CPUS` if set, else every core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, UTC session
    * time, no UI, WARN logging. `spark.sql.codegen.cache.maxEntries`
    * is static, so it must be set here: the default 100-entry
    * generated-class cache thrashes across the query fleet's plans
    * (187 queries, several codegen stages each), recompiling every
    * plan on a second pass such as Bench's timed runs. */
  def local(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
