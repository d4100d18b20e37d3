package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Alert

/** Alert output layer (SURVEY.md §2.1 sinks): violation derivation,
  * deterministic JSON rendering, and pluggable writer traits.
  *
  * The reference writes alerts to BigQuery/PubSub/iprepd/SQS via
  * CompositeOutput (s/CompositeOutput.java:80-119); here the analytic
  * parts (violation mapping s/Violation.java:176-233, stable JSON
  * rendering s/alert/Alert.java:486-530) are pure DataFrame
  * transforms, and transport is a trait with file/console/collecting
  * implementations — streaming callers attach them via foreachBatch.
  */
object Sinks {

  /** Alert subcategory → iprepd violation for source-address alerts
    * (ref Violation.java:178-233 generator map, ViolationType string
    * values :31-84 — note useragent_blocklist and
    * status_code_rate_analysis share "violation20", the legacy iprepd
    * decay names). */
  val IpViolationMap: Map[String, String] = Map(
    // HTTPRequest heuristics
    "error_rate" -> "client_error_rate_violation",
    "threshold_analysis" -> "request_threshold_violation",
    "endpoint_abuse" -> "endpoint_abuse_violation",
    "useragent_blocklist" -> "violation20",
    "hard_limit" -> "hard_limit_violation",
    "per_endpoint_error_rate" -> "violation75",
    "status_code_rate_analysis" -> "violation20",
    "session_limit_analysis" -> "violation10_limited",
    // AMO
    "fxa_account_abuse_new_version_login" -> "endpoint_abuse_violation",
    "fxa_account_abuse_new_version_submission" -> "endpoint_abuse_violation")

  /** Alert subcategory → violation emitted once per email on the
    * alert's email list (ref EmailListViolationGenerator). */
  val EmailViolationMap: Map[String, String] = Map(
    "account_creation_abuse" -> "abusive_account_violation",
    "fxa_account_abuse_new_version_login_banpattern" ->
      "abusive_account_violation",
    "fxa_account_abuse_alias" -> "abusive_account_violation",
    "amo_abuse_multi_match" -> "abusive_account_violation",
    "amo_abuse_multi_submit" -> "abusive_account_violation",
    "amo_abuse_multi_ip_login" -> "abusive_account_violation")

  /** The custom matched-addon subcategory: ip violation + one email
    * violation per listed address (ref
    * MatchedAddonCustomViolationGenerator). */
  val MatchedAddonSubcategory = "amo_abuse_matched_addon"

  private def lookup(m: Map[String, String], key: Column): Column =
    m.foldLeft(lit(null).cast("string")) {
      case (acc, (k, v)) => when(key === k, v).otherwise(acc)
    }

  /** Derive source-address violations from alerts: keep alerts whose
    * subcategory maps to an ip violation and that carry a source
    * address. Pure transform — `when/otherwise` chain over a tiny
    * literal map, no join needed. Output keeps the input columns plus
    * (violation, ip). */
  def violations(alerts: DataFrame, subcategory: Column,
      sourceAddress: Column): DataFrame =
    alerts
      .withColumn("violation", lookup(IpViolationMap, subcategory))
      .filter(col("violation").isNotNull && sourceAddress.isNotNull)
      .withColumn("ip", sourceAddress)

  /** Full-fidelity violation derivation: ip-object subcategories emit
    * one ip violation; email-list subcategories explode the email
    * array; the matched-addon subcategory emits both. Output rows are
    * iprepd-shaped: (object, type, violation, ip, suppress_recovery) —
    * `ip` mirrors `object` for ip-typed rows and is null otherwise
    * (the reference's legacy field, Violation.java:296-302). */
  def violationsTyped(alerts: DataFrame, subcategory: Column,
      sourceAddress: Column, emails: Column,
      suppressRecovery: Column = lit(null).cast("int")): DataFrame = {
    val ipRows = alerts
      .withColumn("violation", when(subcategory === MatchedAddonSubcategory,
        "endpoint_abuse_violation").otherwise(lookup(IpViolationMap, subcategory)))
      .filter(col("violation").isNotNull && sourceAddress.isNotNull)
      .select(sourceAddress.as("object"), lit("ip").as("type"),
        col("violation"), suppressRecovery.as("suppress_recovery"))
    val emailRows = alerts
      .withColumn("violation", when(subcategory === MatchedAddonSubcategory,
        "abusive_account_violation").otherwise(lookup(EmailViolationMap, subcategory)))
      .filter(col("violation").isNotNull)
      .select(explode(emails).as("object"), lit("email").as("type"),
        col("violation"), suppressRecovery.as("suppress_recovery"))
    ipRows.unionByName(emailRows)
      .withColumn("ip", when(col("type") === "ip", col("object")))
  }

  /** Notification merge (ref s/alert/AlertIO.AlertNotifyMerge,
    * AlertIO.java:40-110): alerts sharing a notify-merge key collapse
    * to ONE representative whose summary gains " (n-1 similar
    * alerts)" and which carries notify_merged_count = n; keyless
    * alerts and singleton groups pass through untouched (null count).
    *
    * One hash aggregate on the merge key. The representative is the
    * lexicographic minimum over (summary, remaining columns) — the
    * reference ships whichever alert iteration order yields first,
    * which a distributed engine must not reproduce; the min pick is
    * the deterministic refinement.
    *
    * `summaryCol` names the summary column in `alerts`; output keeps
    * the input columns plus `notify_merged_count`. */
  def notifyMerge(alerts: DataFrame, mergeKey: Column,
      summaryCol: String = "summary"): DataFrame = {
    val cols = alerts.columns.toSeq
    val ordered = summaryCol +: cols.filterNot(_ == summaryCol)
    val keyed = alerts.withColumn("__mk", mergeKey)
    val keyless = keyed.filter(col("__mk").isNull)
      .drop("__mk")
      .withColumn("notify_merged_count", lit(null).cast("long"))
    val merged = keyed.filter(col("__mk").isNotNull)
      .groupBy(col("__mk"))
      .agg(min(struct(ordered.map(col): _*)).as("r"),
        count(lit(1)).as("n"))
      .select(cols.map(c => col(s"r.$c").as(c)) :+ col("n"): _*)
      .withColumn(summaryCol,
        when(col("n") > 1, concat(col(summaryCol), lit(" ("),
          col("n") - 1, lit(" similar alerts)")))
          .otherwise(col(summaryCol)))
      .withColumn("notify_merged_count",
        when(col("n") > 1, col("n")).cast("long"))
      .drop("n")
    keyless.unionByName(merged)
  }

  /** Deterministic JSON rendering of alert rows: fixed field order,
    * epoch-ms timestamps (the reference keeps byte-stable JSON for
    * golden tests; we keep field order via to_json over an explicit
    * struct). */
  def alertJson(alerts: Dataset[Alert]): Dataset[String] = {
    val spark = alerts.sparkSession
    import spark.implicits._
    alerts.toDF().select(to_json(struct(
      col("alertId"), unix_millis(col("timestamp")).as("ts_ms"),
      col("summary"), col("category"), col("subcategory"),
      col("severity"), col("metadata"))).as("value")).as[String]
  }

  /** REFERENCE-SHAPED alert JSON — byte-compatible with what the
    * reference engine's own serializer produces (Alert.toJSON,
    * s/alert/Alert.java:514-526 — Jackson, NON_NULL inclusion, joda
    * ISO dates; engine-produced golden samples:
    * t/resources/testdata/watchlist_analyze_buffer2.txt,
    * iprepdio1.txt). Field order there is severity, id, summary,
    * category, [payload,] timestamp, metadata (payload slot per the
    * field declaration order Alert.java:36-43; no produced fixture
    * carries one). Notes:
    *  - subcategory appears ONLY as the "category" METADATA entry
    *    (ref Alert.setSubcategory:382-388), never as a top-level
    *    field — the Alert row's metadata sequence must already
    *    include it in construction order;
    *  - to_json drops null fields (= Jackson Include.NON_NULL);
    *  - timestamps render as ISO8601 UTC with milliseconds, joda
    *    DateTime.toString's format;
    *  - list-valued metadata keys are pre-joined with ", "
    *    (AlertMeta.joinListValues). */
  def alertJsonGolden(alerts: Dataset[Alert]): Dataset[String] = {
    val spark = alerts.sparkSession
    import spark.implicits._
    // date_format renders in the SESSION time zone while the pattern
    // hard-codes a literal 'Z' — on a non-UTC session that would label
    // local wall time as UTC. to_utc_timestamp(ts, sessionTz) shifts
    // the instant so its session-tz rendering reads as UTC, making the
    // golden bytes independent of spark.sql.session.timeZone (a no-op
    // on the UTC sessions all graft entry points configure).
    val sessionTz = spark.conf.get("spark.sql.session.timeZone")
    alerts.toDF().select(to_json(struct(
      col("severity"),
      col("alertId").as("id"),
      col("summary"),
      col("category"),
      col("payload"),
      date_format(to_utc_timestamp(col("timestamp"), sessionTz),
        "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").as("timestamp"),
      col("metadata"))).as("value")).as[String]
  }

  /** Transport abstraction: batch writers for alert frames. */
  trait AlertWriter {
    def write(alerts: DataFrame): Unit
  }

  /** Append alerts to a parquet directory (the BigQuery-table
    * stand-in; also the cross-run state snapshot format). */
  final class ParquetWriter(path: String) extends AlertWriter {
    def write(alerts: DataFrame): Unit =
      alerts.write.mode("append").parquet(path)
  }

  /** SQS queue-spec parsing (ref SqsIO.java:33-39 parseQueueInfo):
    * the expected wire format is `queueurl:accesskey:secret:region`
    * where the queue url itself contains exactly one ':' (the
    * https:// scheme), so a VALID spec splits into 5 raw parts whose
    * first two recombine into the url. Returns (queueUrl, key,
    * secret, region); None on any other shape — the reference treats
    * that as a fatal configuration error. */
  def parseSqsQueueInfo(input: String): Option[(String, String, String, String)] = {
    val parts = input.split(":")
    if (parts.length != 5) None
    else Some((parts(0) + ":" + parts(1), parts(2), parts(3), parts(4)))
  }

  /** SQS sink (ref SqsIO.java:62-118): consumes ALREADY-RENDERED
    * message strings — the reference shape, where CompositeOutput
    * renders alert JSON once and each transport consumes strings —
    * and wraps each in a SendMessageRequest-shaped record
    * (queue_url, delay_seconds = 0, message_body). The request
    * assembly and queue-spec parsing are the analytic parts and are
    * real; the AWS client call is the SURVEY §2.1 scoped-out
    * transport, stood in by a parquet append (same stand-in contract
    * as the BigQuery sink). A frame that is not a single rendered
    * `value` column renders as whole-row JSON. */
  final class SqsWriter(queueInfo: String, path: String) extends AlertWriter {
    private val queueUrl = parseSqsQueueInfo(queueInfo).getOrElse(
      throw new IllegalArgumentException(
        "format of sqs queue information was invalid"))._1
    def write(alerts: DataFrame): Unit = {
      val body =
        if (alerts.columns.sameElements(Array("value"))) col("value")
        else to_json(struct(alerts.columns.map(col): _*))
      alerts.select(lit(queueUrl).as("queue_url"),
          lit(0).as("delay_seconds"), body.as("message_body"))
        .write.mode("append").parquet(path)
    }
  }

  /** Pub/Sub sink (ref OutputOptions.java:108 —
    * `PubsubIO.writeStrings().to(topic)`: plain rendered strings to a
    * named topic, no attributes): each message string becomes a
    * (topic, data) record. Transport scoped out per SURVEY §2.1,
    * parquet stand-in like the SQS/BigQuery sinks. */
  final class PubsubWriter(topic: String, path: String) extends AlertWriter {
    require(topic.nonEmpty, "topic must be non-empty")
    def write(alerts: DataFrame): Unit = {
      val data =
        if (alerts.columns.sameElements(Array("value"))) col("value")
        else to_json(struct(alerts.columns.map(col): _*))
      alerts.select(lit(topic).as("topic"), data.as("data"))
        .write.mode("append").parquet(path)
    }
  }

  /** Write a frame as a BUCKETED (and bucket-sorted) managed table —
    * the 100 TB co-located-join primitive: two tables bucketed on the
    * same key with the same bucket count join WITHOUT any exchange
    * (each bucket pairs 1:1 across tables), and the in-bucket sort
    * lets sort-merge join skip its sort too. Pre-partition the big
    * fact streams once at ingest (events by source address, documents
    * by doc hash), and every downstream per-key analysis inherits the
    * layout. PlanAuditSpec pins the exchange-free join. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Parquet part-file count under `dir` (0 when the dir is absent) —
    * the small-files health probe append-mode sinks compact on. */
  def parquetFileCount(spark: SparkSession, dir: String): Int = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) 0
    else fs.listStatus(path).count { s =>
      val n = s.getPath.getName
      n.startsWith("part-") && n.endsWith(".parquet")
    }
  }

  /** Compact a parquet directory in place: read it back,
    * hash-repartition on `key` into `nFiles` key-sorted files written
    * ALONGSIDE the live dir, then swap via two renames. The cure for
    * append-mode small-files rot (a per-trigger streaming append
    * grows one file per micro-batch forever): contents are untouched,
    * only layout changes — fewer, larger, key-clustered files, so the
    * next scan's equi-join on `key` reads sorted runs. The swap is
    * the plain-parquet idempotence trade the ingest scaladoc already
    * documents: a crash between the renames leaves `<dir>.old` to
    * recover from; a transactional table format slots in here. */
  def compactParquetDir(spark: SparkSession, dir: String, key: String,
      nFiles: Int): Unit = {
    require(nFiles >= 1, "nFiles must be >= 1")
    val live = new org.apache.hadoop.fs.Path(dir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    restoreOrphanedCompaction(fs, dir)
    if (!fs.exists(live)) return
    val tmp = new org.apache.hadoop.fs.Path(dir + ".compact")
    val old = new org.apache.hadoop.fs.Path(dir + ".old")
    spark.read.parquet(dir)
      .repartition(nFiles, col(key)).sortWithinPartitions(key)
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(old, true)
    if (!fs.rename(live, old) || !fs.rename(tmp, live))
      throw new java.io.IOException(s"compaction swap failed for $dir")
    fs.delete(old, true)
  }

  /** Heal the two-rename swap's crash window: a crash after
    * rename(live, old) but before rename(tmp, live) leaves
    * `<dir>.old` present and the live dir ABSENT — and an ingest
    * batch reading a missing dedup index would silently treat it as
    * empty and re-admit previously-seen documents (decision
    * corruption, not just lost layout). Called at the top of every
    * compaction AND from the ingest read path, so recovery is
    * automatic rather than operator-driven: restore `.old` back to
    * live and discard any half-written `.compact`. A no-op whenever
    * the live dir exists. */
  def restoreOrphanedCompaction(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(dir)
    val old = new org.apache.hadoop.fs.Path(dir + ".old")
    if (!fs.exists(live) && fs.exists(old)) {
      if (!fs.rename(old, live))
        throw new java.io.IOException(
          s"failed to restore orphaned compaction backup for $dir")
      fs.delete(new org.apache.hadoop.fs.Path(dir + ".compact"), true)
    }
  }

  /** Crash-safe whole-snapshot overwrite: write the frame to
    * `<dir>.compact`, then swap it live with the SAME two-rename
    * discipline (and the same heal window) as [[compactParquetDir]] —
    * a plain `mode("overwrite")` to the live path deletes before it
    * commits, so a driver crash in between loses the entire snapshot.
    * First write (no live dir yet) is a single rename. Uses the
    * Hadoop FileSystem of the path, so hdfs://, s3a:// and local
    * paths all behave identically. */
  def atomicSnapshotSwap(df: org.apache.spark.sql.DataFrame, dir: String,
      nFiles: Int = 1): Unit = {
    val spark = df.sparkSession
    val live = new org.apache.hadoop.fs.Path(dir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    restoreOrphanedCompaction(fs, dir)
    val tmp = new org.apache.hadoop.fs.Path(dir + ".compact")
    val old = new org.apache.hadoop.fs.Path(dir + ".old")
    df.coalesce(nFiles).write.mode("overwrite").parquet(tmp.toString)
    fs.delete(old, true)
    if (fs.exists(live)) {
      if (!fs.rename(live, old) || !fs.rename(tmp, live))
        throw new java.io.IOException(s"snapshot swap failed for $dir")
    } else if (!fs.rename(tmp, live)) {
      throw new java.io.IOException(s"snapshot publish failed for $dir")
    }
    fs.delete(old, true)
  }

  /** Heal-then-read a snapshot/index dir through the path's OWN
    * Hadoop FileSystem (a `java.io.File` existence probe is always
    * false for hdfs://—/s3a://-style paths — state would silently
    * never restore); absent or not-yet-written dirs read as an EMPTY
    * frame of `schema` rather than failing schema inference. */
  def readSnapshotOr(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    restoreOrphanedCompaction(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
    try spark.read.schema(schema).parquet(dir)
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  /** Attach a writer to a streaming alert frame via foreachBatch: a sink
    * adapter whose writer evaluates each micro-batch once (its one
    * write), so unlike a [[graft.streaming.Streaming.finalized]]
    * epilogue it needs no checkpoint. */
  def streamTo(alerts: DataFrame, writer: AlertWriter)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    alerts.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) => writer.write(batch.toDF())
    }
}
