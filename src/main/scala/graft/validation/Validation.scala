package graft.validation

import graft.catalog.{BackupManifest, Manifest}
import graft.codec.SegmentCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Validation checks (reference validation module) as DataFrame joins over the
  * manifest catalog and a cluster-offsets table
  * (topic, partition, earliest_offset, latest_offset) — supplied by an
  * AdminClient in production, by a fixture DF in tests.
  *
  * Outcomes follow validation/mod.rs:121-192: per-check Passed/Warning/Failed
  * rows; overall = any-failed → Failed, else any-warning → Warning, else
  * Passed.
  */
object Validation {

  /** J6 message-count check (validation/message_count.rs:34-133): manifest
    * per-partition record sum vs cluster `latest - earliest`; |diff| >
    * threshold ⇒ Failed row.
    */
  def messageCount(segments: DataFrame, clusterOffsets: DataFrame,
                   threshold: Long = 0): DataFrame = {
    val backed = segments.groupBy("topic", "partition")
      .agg(sum("record_count").as("backed_up"))
    // full outer: a partition present on only one side IS the discrepancy —
    // an inner join would silently pass wholly-missing partitions
    backed.join(clusterOffsets, Seq("topic", "partition"), "full_outer")
      .withColumn("cluster_count", col("latest_offset") - col("earliest_offset"))
      .withColumn("diff", col("cluster_count") - col("backed_up"))
      .withColumn("outcome",
        when(col("backed_up").isNull || col("cluster_count").isNull, "Failed")
          .when(abs(col("diff")) <= threshold, "Passed").otherwise("Failed"))
      .select("topic", "partition", "backed_up", "cluster_count", "diff", "outcome")
  }

  /** J7 offset-watermark check (validation/offset_range.rs:25-130): manifest
    * [min(start), max(end)] inside cluster bounds; rule `latest >= end + 1`
    * (the backup may legitimately stop before the live HWM, never after).
    */
  def offsetRange(segments: DataFrame, clusterOffsets: DataFrame): DataFrame = {
    val ranges = segments.groupBy("topic", "partition")
      .agg(min("start_offset").as("backup_start"), max("end_offset").as("backup_end"))
    ranges.join(clusterOffsets, Seq("topic", "partition"), "full_outer")
      .withColumn("outcome",
        when(col("backup_start").isNull || col("latest_offset").isNull, "Failed")
          .when(col("latest_offset") >= col("backup_end") + 1 &&
            col("backup_start") >= col("earliest_offset"), "Passed")
          .when(col("latest_offset") >= col("backup_end") + 1, "Warning")
          .otherwise("Failed"))
      .select("topic", "partition", "backup_start", "backup_end",
        "earliest_offset", "latest_offset", "outcome")
  }

  /** J8 consumer-group check: restored group offsets must land inside the
    * target topic's restored offset ranges.
    */
  def consumerGroups(groupOffsets: DataFrame, restoredRanges: DataFrame): DataFrame =
    groupOffsets.join(restoredRanges, Seq("topic", "partition"), "left")
      .withColumn("outcome",
        when(col("target_first_offset").isNull, "Warning")
          .when(col("committed_offset").between(
            col("target_first_offset"), col("target_last_offset") + 1), "Passed")
          .otherwise("Failed"))
      .select("group_id", "topic", "partition", "committed_offset", "outcome")

  /** A10 summary rollup + overall verdict. */
  def summary(checks: DataFrame*): (DataFrame, String) = {
    val union = checks.map(_.select(col("outcome"))).reduce(_ unionByName _)
    val counts = union.groupBy("outcome").agg(count(lit(1)).as("n"))
    val byOutcome = counts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val overall =
      if (byOutcome.getOrElse("Failed", 0L) > 0) "Failed"
      else if (byOutcome.getOrElse("Warning", 0L) > 0) "Warning"
      else "Passed"
    (counts, overall)
  }

  /** A9 evidence digest (validation/message_count.rs:101-104,
    * evidence/report.rs:151-156): SHA-256 over the canonical, deterministically
    * ordered offset summary.
    */
  def evidenceDigest(segments: DataFrame): String = {
    // collect_list does NOT preserve upstream sort order across the
    // aggregation shuffle — sort the collected array itself so the digest is
    // deterministic however partials arrive
    segments
      .select(concat_ws("|", col("topic"), col("partition"), col("start_offset"),
        col("end_offset"), col("record_count")).as("line"))
      .agg(concat_ws("\n", sort_array(collect_list("line"))).as("doc"))
      .select(sha2(col("doc"), 256))
      .head().getString(0)
  }

  /** `validate --deep` (cli/commands/validate.rs:48-233): re-read and decode
    * every segment, verify CRC (decode throws on mismatch), and check record
    * count + offset range equality against the manifest entry. Runs as a
    * distributed binaryFile scan over the partition directories: unlike
    * restore's catalog-driven scan, which fails on a missing object, deep
    * validation must report one as a Failed row.
    */
  /** The only per-backup state `deep` materializes on the driver: one scan
    * root per (topic, partition) directory — never per segment. Exposed for
    * the spec that pins the no-driver-materialization property.
    */
  private[graft] def deepScanRoots(manifest: BackupManifest): Seq[String] =
    (for {
      t <- manifest.topics
      p <- t.partitions
      s <- p.segments.headOption
    } yield s.key.substring(0, s.key.lastIndexOf('/'))).distinct

  def deep(spark: SparkSession, backupRoot: String, backupId: String): DataFrame = {
    import spark.implicits._
    val manifest = Manifest.load(backupRoot, backupId)
    val expected = Manifest.toDF(spark, manifest)
    // The driver never holds per-SEGMENT state: it enumerates only the
    // partition DIRECTORIES (O(topic×partition), thousands at 100 TB — vs
    // 800k segment keys ≈ 100 MB of driver strings and a giant load varargs).
    // binaryFile then scans whole directories; a deleted object simply never
    // appears on the actual side and the left join turns it into a Failed row.
    val dirs = deepScanRoots(manifest)
    val conf = graft.util.SerializableHadoopConf.broadcast(spark)
    val rootLocal = backupRoot
    // Dirs can vanish wholesale (a whole partition deleted): probe existence
    // distributed, keep only listable dirs as scan roots. O(dirs) driver-side.
    val scanDirs = spark.sparkContext
      .parallelize(dirs, math.max(1, math.min(dirs.size, 64)))
      .filter { d =>
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(rootLocal), conf.value.value)
        try fs.listStatus(new org.apache.hadoop.fs.Path(s"$rootLocal/$d")).nonEmpty
        catch { case _: java.io.FileNotFoundException => false }
      }.collect()
    val backupIdLocal = backupId
    val actual =
      if (scanDirs.isEmpty)
        Seq.empty[(String, Long, Long, Long, String)]
          .toDF("segment_key", "actual_count", "actual_start", "actual_end", "decode_error")
      else spark.read.format("binaryFile")
        .load(scanDirs.map(d => s"$backupRoot/$d").toSeq: _*)
        .select("path", "content")
        .as[(String, Array[Byte])]
        .map { case (path, bytes) =>
          // rebuild the manifest key from the tail path components
          // (topics/<topic>/partition=<p>/<file>) — immune to the backupId
          // string appearing inside backupRoot
          val key = backupIdLocal + "/" + path.split('/').takeRight(4).mkString("/")
          try {
            var n = 0L
            var lo = Long.MaxValue
            var hi = Long.MinValue
            SegmentCodec.decode(bytes).foreach { r =>
              n += 1; lo = math.min(lo, r.offset); hi = math.max(hi, r.offset)
            }
            (key, n, if (n == 0) -1L else lo, if (n == 0) -1L else hi, null: String)
          } catch {
            // Throwable: decoder JNI paths can surface Errors; anything
            // non-fatal must become a Failed row, not a task failure
            case e: Throwable if scala.util.control.NonFatal(e) =>
              (key, -1L, -1L, -1L, e.getMessage)
          }
        }
        .toDF("segment_key", "actual_count", "actual_start", "actual_end", "decode_error")
    // left join: manifest keys with no object on storage surface as
    // "object missing"; foreign files in the scanned dirs (not in the
    // manifest) drop out of the join, matching the old keyed-load behavior
    expected.join(actual, Seq("segment_key"), "left")
      .withColumn("decode_error",
        when(col("actual_count").isNull, lit("object missing"))
          .otherwise(col("decode_error")))
      .withColumn("outcome",
        when(col("decode_error").isNotNull, "Failed")
          .when(col("actual_count") === col("record_count") &&
            col("actual_start") === col("start_offset") &&
            col("actual_end") === col("end_offset"), "Passed")
          .otherwise("Failed"))
      .select("segment_key", "topic", "partition", "record_count", "actual_count",
        "start_offset", "actual_start", "end_offset", "actual_end", "decode_error",
        "outcome")
  }
}
