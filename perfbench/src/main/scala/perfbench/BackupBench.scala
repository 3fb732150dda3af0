package perfbench

import graft.catalog.Manifest
import graft.codec.{CompressionCodec, SegmentCodec}
import graft.model.KRecord
import graft.pipelines.{Backup, BackupConfig, Restore, RestoreConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The write path: one `Backup.run` (zstd, default level, default 128 MB
  * segments) of the whole seeded record set into a fresh root per operation.
  */
final class BackupBench(env: Env) extends Workload {
  import env._
  import spark.implicits._

  val spec: RecordSpec =
    if (tiny) RecordSpec(6000, 2, 8, 2000, 1.1, 200, 4096, 30L * 86400000L, 2000)
    else RecordSpec(120000, 2, 8, 20000, 1.1, 200, 4096, 30L * 86400000L, 2000)
  private val EncodeSampleRecords = 2000

  private var input: DataFrame = _
  private var expected: Digest.Table = _
  private var sample: Seq[KRecord] = _
  private var sampleMb = 0.0

  def latencyKind: String = "backup"
  def throughputKind: String = "backup"
  def blockKinds(block: Long): Seq[String] = Seq("backup")

  def setup(): Unit = {
    if (input != null) input.unpersist(true)
    input = Records.generate(spark, seed, spec, cores * 2).persist()
    expected = Digest.of(input.as[KRecord], enrich = true)
    sample = input.as[KRecord]
      .where(col("topic") === Records.TopicNames(0) && col("partition") === 0)
      .orderBy("offset").limit(EncodeSampleRecords).collect().toSeq
    sampleMb = sample.map(r => SegmentCodec.recordSize(r) + 4L).sum / 1e6
  }

  /** The operation's fresh backup root. */
  type Op = String
  def prepare(kind: String, op: Long): String = s"$work/backup-$op"

  def run(root: String, tr: Option[Tracer]): Done = {
    val cfg = BackupConfig("bench", root)
    val m = tr match {
      case None => Backup.run(spark, input, cfg)
      case Some(t) =>
        val (m, s) = t.span("pipelines.backup")(Backup.run(spark, input, cfg))
        val (exchange, write) = Tracer.splitByStageType(s, t.records(s), m.totalRecords)
        t.layers.add("pipelines.backup.exchange", exchange)
        t.layers.add("pipelines.backup.write", write)
        m
    }
    val segments = m.topics.flatMap(_.partitions).flatMap(_.segments)
    val raw = segments.map(_.uncompressed_size).sum.toDouble
    val stored = segments.map(_.compressed_size).sum.toDouble
    Done(raw / 1e6,
      check = () =>
        try verify(root, m.totalRecords)
        finally Workload.deleteTree(root),
      probes = () => tr.foreach { t =>
        val again = s"$root-catalog"
        t.single("catalog.save_s", Workload.timed(Manifest.save(again, m)))
        Workload.deleteTree(again)
        t.single("codec.zstd_ratio", raw / stored)
        t.single("codec.encode_mb_s", Workload.rate(sampleMb, 0.2) {
          SegmentCodec.encode(sample, CompressionCodec.Zstd)
        })
      })
  }

  /** A full restore reproduces every input record, enrichment headers
    * included, and the manifest counts them all.
    */
  private def verify(root: String, manifestCount: Long): Option[String] = {
    val got = Digest.of(Restore.records(spark, RestoreConfig(root, "bench")), enrich = false)
    if (manifestCount != spec.records)
      Some(s"manifest record_count total $manifestCount != ${spec.records}")
    else if (got != expected) {
      val bad = (got.keySet ++ expected.keySet).filter(k => got.get(k) != expected.get(k))
      Some(s"restored digest differs on ${bad.size} partitions, e.g. ${bad.head}: " +
        s"${got.get(bad.head)} vs ${expected.get(bad.head)}")
    } else None
  }

  def close(): Unit = if (input != null) input.unpersist(true)
}
