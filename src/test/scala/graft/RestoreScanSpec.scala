package graft

import graft.catalog.BackupManifest
import graft.codec.CompressionCodec
import graft.model.KRecord
import graft.pipelines.{Backup, BackupConfig, Restore, RestoreConfig, ThreePhaseRestore}
import graft.sinks.{CollectingSink, RecordSink}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

/** Counts every `sendBatch` across task copies (the counter is JVM-static,
  * so the deserialized sink inside a local-mode task bumps the same one).
  */
final class CountingSink extends RecordSink {
  def sendBatch(topic: String, partition: Int, records: Seq[KRecord]): Long =
    CountingSink.batches.getAndIncrement()
}

object CountingSink {
  val batches = new AtomicLong(0)
}

/** The catalog-driven restore scan: slicing, the no-listing plan shape, and
  * the failure contract (a missing or corrupt segment fails the restore
  * before anything is produced, naming the segment).
  */
class RestoreScanSpec extends SparkSpec {

  private def backup(id: String): (String, BackupManifest) = {
    val root = Files.createTempDirectory(s"graft-scan-$id").toString
    val m = Backup.run(spark, KRecord.fromEvents(spark, sf0001),
      BackupConfig(id, root, CompressionCodec.None, maxSegmentBytes = 1024,
        enrichHeaders = false))
    assert(m.totalSegments >= 40, s"need a many-segment backup, got ${m.totalSegments}")
    (root, m)
  }

  private lazy val shared = backup("scan")

  private def messages(e: Throwable): List[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toList

  test("contiguous runs cover every segment once, in order, within the slice cap") {
    val rnd = new scala.util.Random(11)
    (1 to 300).foreach { _ =>
      val n = rnd.nextInt(60)
      val sizes = Seq.fill(n)(if (rnd.nextInt(8) == 0) 0L else rnd.nextInt(1 << 20).toLong)
      val cap = 1 + rnd.nextInt(20)
      val runs = Restore.contiguousRuns(sizes, cap)
      assert(runs.flatten == sizes.indices, s"n=$n cap=$cap runs=$runs")
      assert(runs.forall(_.nonEmpty))
      assert(runs.size <= math.min(cap, math.max(n, 1)))
    }
    // equal sizes spread one segment per run when there is room
    assert(Restore.contiguousRuns(Seq.fill(4)(100L), 12).map(_.size) == Seq(1, 1, 1, 1))
  }

  test("objects longer or shorter than the catalog's size read whole, legacy JSON included") {
    import graft.catalog.{Manifest, PartitionBackup, SegmentMetadata, TopicBackup}
    import graft.codec.{LegacySegment, SegmentCodec}
    def recs(from: Long) = (from until from + 5).map(o =>
      KRecord(null, -1, o, 1700000000000L + o, null, s"v$o".getBytes, Nil))
    val root = Files.createTempDirectory("graft-scan-sizes").toString
    // (file name, bytes, catalog compressed_size): a legacy object the catalog
    // sizes at 0, a KBAK object it oversizes tenfold, one it sizes exactly
    val kbak = SegmentCodec.encode(recs(5), CompressionCodec.Zstd)
    val exact = SegmentCodec.encode(recs(10), CompressionCodec.Lz4)
    val objects = Seq(
      ("segment-00000000000000000000.json", LegacySegment.encodeLegacy(recs(0)), 0L),
      ("segment-00000000000000000005.bin.zst", kbak, 10L * kbak.length),
      ("segment-00000000000000000010.bin.lz4", exact,
        exact.length.toLong - SegmentCodec.HeaderSize - SegmentCodec.FooterSize))
    val segs = objects.map { case (name, bytes, size) =>
      val key = s"sz/topics/t/partition=0/$name"
      Files.createDirectories(java.nio.file.Paths.get(s"$root/$key").getParent)
      Files.write(java.nio.file.Paths.get(s"$root/$key"), bytes)
      val start = name.substring(8, 28).toLong
      SegmentMetadata(key, start, start + 4, 1700000000000L + start,
        1700000000000L + start + 4, 5, bytes.length, size)
    }.toList
    Manifest.save(root, graft.catalog.BackupManifest("sz", 0L, None, Nil, "none",
      List(TopicBackup("t", Some(1), List(PartitionBackup(0, segs))))))
    val got = Restore.records(spark, RestoreConfig(root, "sz")).collect()
    assert(got.map(_.offset).sorted.toSeq == (0L until 15L))
    assert(got.forall(r => r.topic == "t" && r.partition == 0))
    assert(got.map(r => new String(r.value)).toSet == (0 until 15).map(o => s"v$o").toSet)
  }

  test("restore over >32 segments runs no listing job and a bounded scan stage") {
    val (root, m) = shared
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val scanTasks = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(d => descriptions.add(d))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name.startsWith(Restore.ScanRddName)))
          scanTasks.add(e.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val report = ThreePhaseRestore.run(spark, RestoreConfig(root, "scan"),
        new CollectingSink(), committed = Seq(("g", "click", 0, 10L)), dryRun = true)
      assert(report.records_restored == m.totalRecords)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    assert(!descriptions.asScala.exists(_.startsWith("Listing leaf files")),
      s"restore ran a file-listing job: ${descriptions.asScala.toList}")
    val tasks = scanTasks.asScala.toList.map(_.intValue)
    assert(tasks.nonEmpty, "the segment scan stage must be observed")
    assert(tasks.forall(_ <= 4 * spark.sparkContext.defaultParallelism),
      s"scan stage tasks $tasks exceed 4 x ${spark.sparkContext.defaultParallelism}")
  }

  /** Run a three-phase restore that must fail; return the error text chain. */
  private def failedRestore(root: String, id: String): List[String] = {
    CountingSink.batches.set(0)
    val ex = intercept[Exception](
      ThreePhaseRestore.run(spark, RestoreConfig(root, id), new CountingSink()))
    assert(CountingSink.batches.get == 0, "no batch may be sent before the scan fails")
    messages(ex)
  }

  test("a missing segment fails ThreePhaseRestore before any send, naming the key") {
    val (root, m) = backup("missing")
    val all = m.topics.flatMap(_.partitions).flatMap(_.segments)
    val victim = all(all.size / 2).key
    Files.delete(java.nio.file.Paths.get(s"$root/$victim"))
    val msgs = failedRestore(root, "missing")
    assert(msgs.exists(_.contains(victim)), msgs.mkString(" | "))
  }

  test("a corrupt segment fails ThreePhaseRestore before any send, naming the key") {
    val (root, m) = backup("corrupt")
    val victim = m.topics.last.partitions.last.segments.head.key
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val hp = new Path(s"$root/$victim")
    val bytes = {
      val in = fs.open(hp)
      try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in) finally in.close()
    }
    // flip a bit in the stored CRC; rewrite through the Hadoop FS so its .crc
    // sidecar follows and the KBAK CRC check is what trips
    bytes(bytes.length - 6) = (bytes(bytes.length - 6) ^ 0x01).toByte
    val os = fs.create(hp, true)
    try os.write(bytes) finally os.close()
    val msgs = failedRestore(root, "corrupt")
    assert(msgs.exists(t => t.contains(victim) && t.contains("CRC")), msgs.mkString(" | "))
  }
}
