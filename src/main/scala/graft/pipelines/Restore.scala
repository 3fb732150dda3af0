package graft.pipelines

import graft.catalog.{BackupManifest, Manifest, SegmentMetadata}
import graft.codec.{LegacySegment, SegmentCodec}
import graft.model.KRecord
import graft.util.SerializableHadoopConf
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Restore/PITR options (reference RestoreConfig, restore/engine.rs):
  * time window bounds are epoch millis, both ends INCLUSIVE
  * (restore/helpers.rs:55-73).
  */
case class RestoreConfig(
    backupRoot: String,
    backupId: String,
    windowStartMs: Option[Long] = None,
    windowEndMs: Option[Long] = None,
    includeTopics: Seq[String] = Nil,
    excludeTopics: Seq[String] = Nil,
    sourcePartitions: Option[Seq[Int]] = None,
    topicMapping: Map[String, String] = Map.empty,
    partitionMapping: Map[Int, Int] = Map.empty,
    completedSegmentKeys: Set[String] = Set.empty)

/** The restore "query" (reference lifecycle §3.2): manifest catalog → segment
  * pruning (F6) → checkpoint anti-join (F9) → catalog-driven segment scan +
  * KBAK decode (S8/S10) → record time filter (F7) → topic/partition remap
  * (F13/F14).
  *
  * Scale shape: pruning happens on the CATALOG (one row per segment), so at
  * 100 TB a narrow PITR window touches only the overlapping ~128 MB objects.
  * The scan is built from the catalog too: the pruned keys, in catalog
  * order, are cut into contiguous byte-balanced runs, one task each, and
  * every task opens its objects by key and reads them whole — no file
  * listing, no status call per object (the manifest already names every
  * object). Decode is a streaming flatMap (no per-task materialization);
  * the ts filter is re-applied per-record because segment stats are
  * ranges, not predicates.
  */
object Restore {

  /** Scan tasks per core, at most: enough slack to even out segments of
    * uneven size without paying task overhead per object.
    */
  private val SlicesPerCore = 3

  /** Name prefix of the scan's source RDD (visible per stage in the UI). */
  val ScanRddName = "restore segment scan"

  /** The restored record set as a canonical-record Dataset (the produce step
    * K3 is a separate sink; tests and validation consume this directly).
    */
  def records(spark: SparkSession, cfg: RestoreConfig): Dataset[KRecord] = {
    val manifest = Manifest.load(cfg.backupRoot, cfg.backupId)
    val decoded = segmentScan(spark, cfg.backupRoot, prunedSegments(manifest, cfg))

    val timeFiltered = (cfg.windowStartMs, cfg.windowEndMs) match {
      case (None, None) => decoded
      case (s, e) =>
        val lo = s.getOrElse(Long.MinValue)
        val hi = e.getOrElse(Long.MaxValue)
        decoded.filter(r => r.timestamp >= lo && r.timestamp <= hi)
    }
    timeFiltered
  }

  /** Decode `segments` (catalog entries under `root`) into records. The list
    * is sliced into at most `SlicesPerCore` × cores contiguous runs of
    * similar `compressed_size`, never more runs than segments; the Hadoop
    * conf travels as one broadcast. A missing or corrupt object fails its
    * task with an error naming the segment key — never a silent drop.
    */
  private def segmentScan(spark: SparkSession, root: String,
                          segments: Seq[SegmentMetadata]): Dataset[KRecord] = {
    import spark.implicits._
    if (segments.isEmpty) return spark.emptyDataset[KRecord]
    val sc = spark.sparkContext
    val segs = segments.toVector
    val slices = contiguousRuns(segs.map(_.compressed_size),
      SlicesPerCore * sc.defaultParallelism).map(r => segs.slice(r.start, r.end))
    val conf = SerializableHadoopConf.broadcast(spark)
    val source = sc.parallelize(slices, slices.size)
      .setName(s"$ScanRddName: ${segs.size} segments")
    spark.createDataset(source.flatMap { slice =>
      val fs = FileSystem.get(new java.net.URI(root), conf.value.value)
      slice.iterator.flatMap(s => decodeSegment(fs, root, s))
    })
  }

  /** Cut `sizes` into at most `maxRuns` contiguous index ranges of roughly
    * equal total size (each weighted at least 1, so empty entries still
    * spread). Every run is non-empty; there are never more runs than sizes.
    */
  private[graft] def contiguousRuns(sizes: Seq[Long], maxRuns: Int): Seq[Range] = {
    val n = math.max(1, math.min(maxRuns, sizes.size))
    val target = (sizes.iterator.map(math.max(_, 1L)).sum + n - 1) / n
    val runs = Vector.newBuilder[Range]
    var start = 0
    var acc = 0L
    sizes.iterator.zipWithIndex.foreach { case (size, i) =>
      acc += math.max(size, 1L)
      // each closed run weighs >= ceil(total / n), so at most n close
      if (acc >= target) { runs += (start until i + 1); start = i + 1; acc = 0L }
    }
    if (start < sizes.size) runs += (start until sizes.size)
    runs.result()
  }

  /** Read one segment object whole and decode it (magic-sniffed: KBAK binary
    * or legacy JSON, S10/S11); topic and partition come from the key. Any
    * failure, eager or mid-iteration, is rethrown naming the key.
    */
  private def decodeSegment(fs: FileSystem, root: String,
                            seg: SegmentMetadata): Iterator[KRecord] = {
    val key = seg.key
    def named[A](f: => A): A =
      try f catch {
        case e: Exception => throw new java.io.IOException(
          s"restore: segment $key under $root: ${e.getMessage}", e)
      }
    val it = named {
      val (topic, partition) = parseSegmentPath(key)
      val bytes = readWhole(fs, new Path(s"$root/$key"),
        SegmentCodec.HeaderSize + seg.compressed_size + SegmentCodec.FooterSize)
      LegacySegment.decodeAny(bytes, key, topic, partition)
    }
    new Iterator[KRecord] {
      def hasNext: Boolean = named(it.hasNext)
      def next(): KRecord = named(it.next())
    }
  }

  /** An object's whole content, read to EOF with no status call. The
    * catalog's expected length sizes the first read, so a KBAK segment
    * lands in one exact-length array with no copy.
    */
  private def readWhole(fs: FileSystem, path: Path, expected: Long): Array[Byte] = {
    val in = fs.open(path)
    try {
      val head = new Array[Byte](math.max(0L, math.min(expected, Int.MaxValue - 8L)).toInt)
      val n = in.readNBytes(head, 0, head.length)
      if (n < head.length) java.util.Arrays.copyOf(head, n)
      else {
        val tail = in.readAllBytes()
        if (tail.isEmpty) head else Array.concat(head, tail)
      }
    } finally in.close()
  }

  /** Restore with topic rename / explicit partition remap applied (F13/F14). */
  def remapped(spark: SparkSession, cfg: RestoreConfig): DataFrame = {
    val base = records(spark, cfg).toDF()
    val t = if (cfg.topicMapping.isEmpty) base
      else {
        val m = typedLit(cfg.topicMapping)
        base.withColumn("topic", coalesce(element_at(m, col("topic")), col("topic")))
      }
    if (cfg.partitionMapping.isEmpty) t
    else {
      val m = typedLit(cfg.partitionMapping)
      t.withColumn("partition",
        coalesce(element_at(m, col("partition")), col("partition")))
    }
  }

  /** Catalog-side planning: topic include/exclude (F2) → partition filter (F5)
    * → time-window segment pruning (F6) → completed-segment anti set (F9).
    * Driver-side list ops — the manifest is small (1 row per 128 MB object).
    */
  def prunedSegments(manifest: BackupManifest, cfg: RestoreConfig): Seq[SegmentMetadata] =
    for {
      t <- manifest.topics
      if graft.functions.KHash.topicMatches(t.name, cfg.includeTopics, cfg.excludeTopics)
      p <- t.partitions
      if cfg.sourcePartitions.forall(_.contains(p.partition_id))
      s <- p.segments
      if s.overlapsTimeWindow(cfg.windowStartMs, cfg.windowEndMs)
      if !cfg.completedSegmentKeys.contains(s.key)
    } yield s

  /** The keys of [[prunedSegments]], in catalog order. */
  def prunedSegmentKeys(manifest: BackupManifest, cfg: RestoreConfig): Seq[String] =
    prunedSegments(manifest, cfg).map(_.key)

  /** A5 restore-report metrics via `Dataset.observe` (restore/engine.rs
    * 346-357): record/byte counters accumulate during the ACTION that
    * consumes the returned DataFrame — no extra pass. Read the observation
    * after the action completes.
    */
  def withMetrics(df: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("restore_metrics")
    val observed = df.observe(obs,
      count(lit(1)).as("records_restored"),
      coalesce(sum(coalesce(length(col("value")), lit(0)) +
        coalesce(length(col("key")), lit(0))), lit(0L)).as("bytes_restored"))
    (observed, obs)
  }

  /** `.../topics/{topic}/partition={p}/segment-....bin[.ext]` → (topic, p). */
  def parseSegmentPath(path: String): (String, Int) = {
    val parts = path.split('/')
    val pIdx = parts.lastIndexWhere(_.startsWith("partition="))
    require(pIdx > 0, s"Not a segment path: $path")
    (parts(pIdx - 1), parts(pIdx).substring("partition=".length).toInt)
  }

  /** validate-restore's report shape (reference manifest.rs:827-856
    * DryRunReport): would the restore succeed, and what would it touch.
    */
  case class DryRunValidation(
      backup_id: String, valid: Boolean, errors: Seq[String], warnings: Seq[String],
      segments_to_process: Long, records_to_restore: Long, bytes_to_restore: Long,
      time_range: Option[(Long, Long)],
      topics: Seq[(String, String, Long, Long)]) { // (source, target, segments, records)
    def toJson: String = {
      import graft.util.Json.{escape => js}
      val ts = topics.map { case (s, t, ns, nr) =>
        s"""{"source_topic":${js(s)},"target_topic":${js(t)},"segments":$ns,"records":$nr}"""
      }.mkString("[", ",", "]")
      s"""{"backup_id":${js(backup_id)},"valid":$valid,""" +
        s""""errors":${errors.map(js).mkString("[", ",", "]")},""" +
        s""""warnings":${warnings.map(js).mkString("[", ",", "]")},""" +
        s""""segments_to_process":$segments_to_process,""" +
        s""""records_to_restore":$records_to_restore,""" +
        s""""bytes_to_restore":$bytes_to_restore,""" +
        s""""time_range":${time_range.map(r => s"[${r._1},${r._2}]").getOrElse("null")},""" +
        s""""topics":$ts}"""
    }
  }

  /** `validate-restore` (cli/commands/validate_restore.rs:1-46 +
    * engine dry_run): a forced dry-run over the catalog — no data read, no
    * produce — reporting whether the configured restore would succeed and
    * exactly what it would touch. Errors: missing/corrupt manifest, inverted
    * time window, filters matching nothing. Warnings: empty partitions,
    * remaps to already-existing source topic names.
    */
  def validateRestore(spark: SparkSession, cfg: RestoreConfig): DryRunValidation = {
    val errors = Seq.newBuilder[String]
    val warnings = Seq.newBuilder[String]
    val manifestOpt =
      try Some(Manifest.load(cfg.backupRoot, cfg.backupId))
      catch { case e: Exception =>
        errors += s"manifest unreadable at ${Manifest.path(cfg.backupRoot, cfg.backupId)}: ${e.getMessage}"
        None
      }
    for (s <- cfg.windowStartMs; e <- cfg.windowEndMs; if s > e)
      errors += s"time window inverted: start $s > end $e"
    manifestOpt match {
      case None =>
        DryRunValidation(cfg.backupId, valid = false, errors.result(),
          warnings.result(), 0, 0, 0, None, Nil)
      case Some(m) =>
        val keys = prunedSegmentKeys(m, cfg).toSet
        val selected = for {
          t <- m.topics
          p <- t.partitions
          s <- p.segments if keys.contains(s.key)
        } yield (t.name, p.partition_id, s)
        if (m.totalSegments == 0) warnings += "backup contains no segments"
        else if (selected.isEmpty)
          errors += "no segments match the configured filters/window"
        val targets = m.topics.map(t =>
          t.name -> cfg.topicMapping.getOrElse(t.name, t.name)).toMap
        val collisions = targets.filter { case (s, t) =>
          t != s && m.topics.exists(_.name == t)
        }
        collisions.foreach { case (s, t) =>
          warnings += s"topic remap $s -> $t collides with a backed-up topic name"
        }
        for {
          t <- m.topics
          p <- t.partitions if p.segments.isEmpty
        } warnings += s"${t.name}/partition=${p.partition_id} has no segments"
        val segs = selected.map(_._3)
        DryRunValidation(
          cfg.backupId,
          valid = errors.result().isEmpty,
          errors.result(), warnings.result(),
          segments_to_process = segs.size.toLong,
          records_to_restore = segs.map(_.record_count).sum,
          bytes_to_restore = segs.map(_.uncompressed_size).sum,
          time_range =
            if (segs.isEmpty) None
            else Some((segs.map(_.start_timestamp).min, segs.map(_.end_timestamp).max)),
          topics = selected.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rows) =>
            (t, targets(t), rows.size.toLong, rows.map(_._3.record_count).sum)
          })
    }
  }

  /** Dry-run rollup (A3, restore/engine.rs:443-518): per (topic, partition)
    * with topic and global subtotals via `rollup` — counts of segments,
    * records, bytes, offset and time ranges — computed purely on the catalog.
    */
  def dryRun(spark: SparkSession, cfg: RestoreConfig): DataFrame = {
    val manifest = Manifest.load(cfg.backupRoot, cfg.backupId)
    val keys = prunedSegmentKeys(manifest, cfg).toSet
    Manifest.toDF(spark, manifest)
      .filter(col("segment_key").isInCollection(keys))
      .rollup("topic", "partition")
      .agg(count(lit(1)).as("n_segments"),
        sum("record_count").as("n_records"),
        sum("uncompressed_size").as("n_bytes"),
        min("start_offset").as("min_offset"),
        max("end_offset").as("max_offset"),
        min("start_timestamp").as("min_ts"),
        max("end_timestamp").as("max_ts"))
  }
}
