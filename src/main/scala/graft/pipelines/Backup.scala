package graft.pipelines

import graft.codec.{CompressionCodec, SegmentCodec}
import graft.catalog._
import graft.functions.KFunctions
import graft.model.KRecord
import graft.util.SerializableHadoopConf
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Backup pipeline config (subset of the reference's YAML Config,
  * crates/kafka-backup-core/src/config.rs:8). Defaults mirror
  * SegmentWriterConfig::default (segment/writer.rs:28-37).
  */
case class BackupConfig(
    backupId: String,
    backupRoot: String,
    compression: CompressionCodec = CompressionCodec.Zstd,
    zstdLevel: Int = CompressionCodec.DefaultZstdLevel,
    maxSegmentBytes: Long = 128L * 1024 * 1024,
    // event-time analog of the reference's 60 s wall-clock roll
    // (segment/writer.rs:28-37): a batch job replays history, so the
    // wall-clock elapsed check becomes a bound on the event-time span a
    // segment may cover. None = size-only roll (the pre-round-4 behavior).
    maxSegmentIntervalMs: Option[Long] = None,
    sourceCluster: String = "source-cluster",
    enrichHeaders: Boolean = true,
    includeTopics: Seq[String] = Nil,
    excludeTopics: Seq[String] = Nil)

/** The ingest pipeline (reference query lifecycle §3.1): source records →
  * header enrichment (F11) → per-(topic,partition) segment roll (K1/St4) →
  * storage put → manifest assembly (K2).
  *
  * Spark shape: a narrow, shuffle-once plan. One hash repartition co-locates
  * each (topic,partition) on one task; `sortWithinPartitions` restores offset
  * order (the per-partition order invariant O4 — never a global sort); the
  * writer runs inside `mapPartitions` and streams records through rolling
  * segment buffers, so memory is bounded by `maxSegmentBytes` per task
  * regardless of input size. Segment metadata (one row per ~128 MB) is the
  * only thing collected to the driver.
  */
object Backup {

  /** Run a batch backup of a canonical-record DataFrame. Returns the saved
    * manifest.
    */
  def run(spark: SparkSession, records: DataFrame, config: BackupConfig): BackupManifest = {
    import spark.implicits._
    // the in-memory segment buffer is Int-indexed; a >=2 GB segment would
    // never hit the roll check and overflow mid-task with a misleading error
    require(config.maxSegmentBytes > 0 && config.maxSegmentBytes < Int.MaxValue.toLong - (16 << 20),
      s"maxSegmentBytes must be in (0, ~2GB): ${config.maxSegmentBytes}")

    // topic resolution needs a distinct scan of the source — only pay for it
    // when include/exclude filters are actually configured
    val filtered =
      if (config.includeTopics.isEmpty && config.excludeTopics.isEmpty) records
      else records.filter(col("topic").isin(selectedTopics(spark, records, config): _*))

    val enriched =
      if (config.enrichHeaders)
        filtered.withColumn("headers",
          KFunctions.enriched_headers(col("headers"), col("offset"), col("timestamp"),
            config.sourceCluster, col("partition")))
      else filtered

    val cfg = config // avoid closing over `this`
    val hadoopConf = SerializableHadoopConf.broadcast(spark)
    val written: Seq[SegmentRow] = enriched
      .repartition(col("topic"), col("partition"))
      .sortWithinPartitions("topic", "partition", "offset")
      .as[KRecord]
      .mapPartitions(it => writeTaskPartition(it, cfg, hadoopConf))
      .collect().toSeq

    // original_partition_count (manifest.rs:81-89) from the observed max
    // partition id in the written segments — no second scan of the input
    // (an extra groupBy here would double the source read at scale)
    val partCounts = written.groupBy(_.topic)
      .map { case (t, rs) => t -> (rs.map(_.partition).max + 1) }

    val manifest = assembleManifest(written, partCounts, config)
    Manifest.save(config.backupRoot, manifest)
  }

  /** Incremental batch backup (S12 batch leg, offset_store/sqlite.rs:126-154):
    * consult the offset state table, back up only records PAST each
    * partition's recorded high-water mark, then advance the marks. Two
    * consecutive runs over the same source write the new offsets exactly once
    * (manifest merge dedups re-sealed segments as a second line of defense).
    *
    * The state is broadcast-joined against the source — a handful of rows per
    * partition, never a shuffle of the data side.
    */
  def runIncremental(spark: SparkSession, records: DataFrame, config: BackupConfig,
                     stateRoot: Option[String] = None): BackupManifest = {
    val root = stateRoot.getOrElse(config.backupRoot)
    val state = graft.catalog.OffsetStateTable.load(spark, root)
      .filter(col("backup_id") === config.backupId)
      .select(col("topic"), col("partition"), col("last_offset"))
    val manifest = run(spark, incrementalFilter(records, state), config)
    graft.catalog.OffsetStateTable.update(spark, root, manifest)
    manifest
  }

  /** The resume predicate: keep records past each partition's mark. The
    * state side is metadata-sized, so it is always BROADCAST — the data side
    * must not shuffle for this join (asserted in PlanSpec).
    */
  def incrementalFilter(records: DataFrame, state: DataFrame): DataFrame =
    records
      .join(broadcast(state), Seq("topic", "partition"), "left")
      .filter(col("last_offset").isNull || col("offset") > col("last_offset"))
      .drop("last_offset")

  /** Topic resolution F1/F2: glob include/exclude against observed topics. */
  def selectedTopics(spark: SparkSession, records: DataFrame, config: BackupConfig): Seq[String] = {
    import spark.implicits._
    val all = records.select("topic").distinct().as[String].collect().toSeq
    all.filter(t => graft.functions.KHash.topicMatches(t, config.includeTopics,
      config.excludeTopics)).sorted
  }

  private[pipelines] case class SegmentRow(
      topic: String, partition: Int, key: String, start_offset: Long, end_offset: Long,
      start_timestamp: Long, end_timestamp: Long, record_count: Long,
      uncompressed_size: Long, compressed_size: Long)

  /** Rolling segment writer for one Spark task. Input is sorted by
    * (topic, partition, offset); consecutive runs of one (topic, partition)
    * stream through a bounded buffer that seals at `maxSegmentBytes` OR when
    * the segment's event-time span reaches `maxSegmentIntervalMs`
    * (writer.rs:237-251 — `should_rotate` checks size then elapsed time
    * after each append; here elapsed wall-clock maps to event-time span,
    * since a batch job replays history at arbitrary speed. On the streaming
    * path micro-batch boundaries additionally bound wall-clock staleness.)
    * Unlike the reference's post-append check, a record that would stretch
    * the span past the cap seals the current segment first, so the span
    * bound holds strictly for every segment.
    */
  private def writeTaskPartition(it: Iterator[KRecord], cfg: BackupConfig,
                                 hadoopConf: Broadcast[SerializableHadoopConf]): Iterator[SegmentRow] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(cfg.backupRoot), hadoopConf.value.value)
    val out = scala.collection.mutable.ArrayBuffer.empty[SegmentRow]

    var curTopic: String = null
    var curPartition: Int = -1
    // Per-task memory contract: zstd segments COMPRESS AS THEY APPEND — each
    // record encodes into a small scratch sink and streams through a zstd
    // stream into `body`, so the live allocation is the COMPRESSED body
    // (typically 3-10x under maxSegmentBytes) plus the codec's ~1 MB window,
    // never the raw segment. That's what lets a 32-task local run (or a
    // tightly-packed executor) write 128 MB segments inside a default heap:
    // the earlier buffer-raw-then-compress shape held raw + compressBound
    // per task ≈ 2x maxSegmentBytes, and 32x that was the measured sf10
    // 16 GB OOM. The header-before-body file format forces buffering ONE of
    // the two forms; compressed is strictly smaller. lz4/none keep the raw
    // buffer (the lz4 block format needs whole-body input; none is 1:1).
    val isZstd = cfg.compression == CompressionCodec.Zstd
    val body = new SegmentCodec.ByteSink(1 << 20)
    val scratch = if (isZstd) new SegmentCodec.ByteSink(64 << 10) else body
    var zOut: java.io.OutputStream = null
    def openStream(): Unit = if (isZstd)
      zOut = new java.io.BufferedOutputStream(
        new com.github.luben.zstd.ZstdOutputStream(body.asOutputStream, cfg.zstdLevel),
        64 << 10)
    openStream()
    var rawLen = 0L
    var count = 0L
    var startOffset = -1L
    var endOffset = -1L
    var startTs = Long.MaxValue
    var endTs = Long.MinValue

    def seal(): Unit = if (count > 0) {
      // stream the segment out — header, compressed body range, CRC footer —
      // with no assemble copy; for zstd the body is ALREADY compressed (the
      // stream's close writes the frame epilogue; the reader handles
      // streamed frames without an up-front content size)
      val (cBuf, cOff, cLen) =
        if (isZstd) { zOut.close(); (body.backing, 0, body.size) }
        else graft.codec.Compression.compressRange(
          body.backing, 0, body.size, cfg.compression, cfg.zstdLevel)
      val key = Manifest.segmentKey(cfg.backupId, curTopic, curPartition, startOffset,
        cfg.compression.extension)
      val path = new org.apache.hadoop.fs.Path(s"${cfg.backupRoot}/$key")
      val os = fs.create(path, true)
      try SegmentCodec.writeSegment(os,
        SegmentCodec.SegmentHeader(SegmentCodec.Version, cfg.compression, count, startOffset,
          endOffset), cBuf, cOff, cLen)
      finally os.close()
      out += SegmentRow(curTopic, curPartition, key, startOffset, endOffset, startTs, endTs,
        count, rawLen, cLen.toLong)
      body.reset()
      openStream()
      rawLen = 0
      count = 0; startOffset = -1; endOffset = -1
      startTs = Long.MaxValue; endTs = Long.MinValue
    }

    it.foreach { r =>
      if (r.topic != curTopic || r.partition != curPartition) {
        seal(); curTopic = r.topic; curPartition = r.partition
      }
      // Seal BEFORE appending a record that would stretch the event-time span
      // past the cap, so every sealed segment spans <= maxSegmentIntervalMs
      // regardless of record spacing (not just when spacing divides the cap).
      if (count > 0 && cfg.maxSegmentIntervalMs.exists(iv =>
          math.max(endTs, r.timestamp) - math.min(startTs, r.timestamp) > iv)) seal()
      if (count == 0) startOffset = r.offset
      endOffset = r.offset
      startTs = math.min(startTs, r.timestamp)
      endTs = math.max(endTs, r.timestamp)
      if (isZstd) {
        SegmentCodec.writeRecord(scratch, r)
        zOut.write(scratch.backing, 0, scratch.size)
        rawLen += scratch.size
        scratch.reset()
      } else {
        SegmentCodec.writeRecord(body, r)
        rawLen = body.size.toLong
      }
      count += 1
      if (rawLen >= cfg.maxSegmentBytes ||
        cfg.maxSegmentIntervalMs.exists(iv => endTs - startTs >= iv)) seal()
    }
    seal()
    // the fresh post-seal stream was never fed; close it so the codec's
    // native context is released with the task, not with the GC
    if (isZstd && zOut != null) zOut.close()
    out.iterator
  }

  private def assembleManifest(rows: Seq[SegmentRow], partCounts: Map[String, Int],
                               config: BackupConfig): BackupManifest = {
    val topics = rows.groupBy(_.topic).toList.sortBy(_._1).map { case (topic, trs) =>
      val parts = trs.groupBy(_.partition).toList.sortBy(_._1).map { case (pid, prs) =>
        PartitionBackup(pid, prs.sortBy(_.start_offset).map(r =>
          SegmentMetadata(r.key, r.start_offset, r.end_offset, r.start_timestamp,
            r.end_timestamp, r.record_count, r.uncompressed_size, r.compressed_size)).toList)
      }
      TopicBackup(topic, partCounts.get(topic), parts)
    }
    BackupManifest(config.backupId, System.currentTimeMillis(), None, Nil,
      config.compression match {
        case CompressionCodec.None => "none"
        case CompressionCodec.Zstd => "zstd"
        case CompressionCodec.Lz4 => "lz4"
      }, topics)
  }
}
