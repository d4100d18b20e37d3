package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Session.local(4)
    // Spark 4.1's ChecksumCheckpointFileManager deadlocks closing
    // state-store delta files in local test runs — disable checksums
    s.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    s
  }

  private val frames =
    scala.collection.mutable.Map.empty[String, org.apache.spark.sql.DataFrame]

  /** The named query's frame at sf0.001, built once per test JVM: the
    * per-query run test and the plan invariant both read it, so the
    * driver-side frame build (eager jobs included) runs once. */
  def frame(name: String): org.apache.spark.sql.DataFrame = synchronized {
    frames.getOrElseUpdate(name,
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.001"))
  }

  private val StateStoreProvider = "spark.sql.streaming.stateStore.providerClass"

  /** Runs `body` on the RocksDB state store (transformWithState needs
    * it, in batch and streaming alike), restoring the previous
    * provider setting afterwards. */
  def withRocksDb[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.getOption(StateStoreProvider)
    spark.conf.set(StateStoreProvider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(StateStoreProvider, p)
      case None => spark.conf.unset(StateStoreProvider)
    }
  }
}

class SparkEntrySpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has oracle SQL or is explicitly rows-only") {
    // every oracle key must name a real query
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("the test session carries Session.local(4)'s config") {
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
  }

  test("select: known names pick their queries, an empty list picks " +
      "all, an unknown name fails naming it") {
    val two = Seq("q01_pricing_summary", "q40_approx_distinct")
    assert(SparkEntry.select(two).keySet == two.toSet)
    assert(SparkEntry.select(Nil).keySet == SparkEntry.queries.keySet)
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q01_pricing_summary", "q999_typo")))
    assert(e.getMessage.contains("q999_typo"))
    assert(!e.getMessage.contains("q01_pricing_summary"))
  }

  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$name runs non-empty at sf0.001") {
      assert(SparkTestSession.frame(name).count() > 0)
    }
  }

  test("q40 approx distinct within rsd bounds of exact counts") {
    val approx = SparkEntry.queries("q40_approx_distinct")(spark, sf)
      .collect().map(r => (r.getAs[Long]("window_start_ms"),
        r.getAs[Long]("user_id")) -> r.getAs[Long]("n_distinct")).toMap
    val exact = graft.operators.Heuristics.distinctCardinality(
        graft.sources.Tables.events(spark, sf),
        org.apache.spark.sql.functions.col("ts"),
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("event_type"), "1 day", 1)
      .collect().map(r => (r.getAs[Long]("window_start_ms"),
        r.getAs[Long]("key")) -> r.getAs[Long]("n_distinct")).toMap
    assert(approx.keySet == exact.keySet)
    // 5 distinct types max — HLL at rsd=0.02 must be exact-ish here
    exact.foreach { case (k, v) =>
      assert(math.abs(approx(k) - v) <= math.max(1, v / 10)) }
  }

  // q40 is the ONE query with no DuckDB oracle (HLL sketches are
  // engine-specific by declared design), so this named spec IS its
  // official per-round verification: at the driver's sf0.01 gate
  // scale, every approximate count must land within 5x the declared
  // rsd (0.02 -> 10%) of the exact count(distinct), and the key sets
  // must match exactly. Referenced from COVERAGE.md.
  test("q40 self-check: approx_count_distinct within declared rsd bound at sf0.01") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).isDirectory)
    val approx = SparkEntry.queries("q40_approx_distinct")(spark, dir)
      .collect().map(r => (r.getAs[Long]("window_start_ms"),
        r.getAs[Long]("user_id")) -> r.getAs[Long]("n_distinct")).toMap
    val exact = graft.operators.Heuristics.distinctCardinality(
        graft.sources.Tables.events(spark, dir),
        col("ts"), col("user_id"), col("event_type"), "1 day", 1)
      .collect().map(r => (r.getAs[Long]("window_start_ms"),
        r.getAs[Long]("key")) -> r.getAs[Long]("n_distinct")).toMap
    // rows-level: the sketch can never invent or lose a key (every
    // group has >= 1 distinct attr, so the minDistinct filter cannot
    // diverge between the approximate and exact paths)
    assert(approx.keySet == exact.keySet)
    // error-bound: 5 standard errors at the declared rsd, floor 1
    exact.foreach { case (k, v) =>
      val bound = math.max(1L, math.ceil(5 * 0.02 * v).toLong)
      assert(math.abs(approx(k) - v) <= bound,
        s"key $k: approx ${approx(k)} vs exact $v exceeds ±$bound")
    }
  }

  test("q01 groups to 6 flag/status combinations") {
    assert(SparkEntry.queries("q01_pricing_summary")(spark, sf).count() == 6)
  }

  test("q10 covers all 5 regions") {
    val rows = SparkEntry.queries("q10_region_revenue")(spark, sf).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getAs[Long]("revenue_cents")).forall(_ > 0))
  }
}
