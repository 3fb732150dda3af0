package perfbench

import graft.catalog.{BackupManifest, Manifest, SegmentMetadata}
import graft.codec.SegmentCodec
import graft.model.KRecord
import graft.pipelines.{Backup, BackupConfig, Restore, RestoreConfig, ThreePhaseRestore}
import graft.remap.OffsetMappingDF
import graft.sinks.{CollectingSink, Produce, ProduceResult}

/** The read path. Set-up backs the seeded record set up once with small
  * segments; each operation is one `ThreePhaseRestore.run` (collecting sink,
  * seeded consumer-group commits, dry run). A block holds five requests:
  * four narrow point-in-time requests (a 1-hour window over 2 partitions)
  * and one full-range request (all of one topic), at a seeded position.
  */
final class RestoreBench(env: Env) extends Workload {
  import RestoreBench.Request
  import env._
  import spark.implicits._

  val spec: RecordSpec =
    if (tiny) RecordSpec(3000, 2, 8, 2000, 1.1, 200, 4096, 30L * 86400000L, 2000)
    else RecordSpec(40000, 2, 8, 20000, 1.1, 200, 4096, 30L * 86400000L, 2000)
  private val SegmentBytes = if (tiny) 16 * 1024 else 64 * 1024
  private val BlockSize = 5
  private val NarrowPartitions = 2
  private val HourMs = 3600000L
  private val Groups = 3
  private val DecodeSegments = 64
  private val root = s"$work/restore"
  private val Id = "bench"

  /** Per (topic, partition): offsets in order and their timestamps. */
  private var index: Map[(String, Int), (Array[Long], Array[Long])] = _
  private var manifest: BackupManifest = _
  private var decodeSet: Seq[Array[Byte]] = _
  private var decodeMb = 0.0

  def latencyKind: String = "narrow"
  def throughputKind: String = "full"
  def blockKinds(block: Long): Seq[String] = {
    val full = Rng.at(seed, 30, block).nextInt(BlockSize)
    (0 until BlockSize).map(i => if (i == full) "full" else "narrow")
  }

  def setup(): Unit = {
    Workload.deleteTree(root)
    val input = Records.generate(spark, seed, spec, cores * 2).persist()
    manifest = Backup.run(spark, input, BackupConfig(Id, root, maxSegmentBytes = SegmentBytes))
    index = input.select("topic", "partition", "offset", "timestamp")
      .as[(String, Int, Long, Long)].collect()
      .groupBy(x => (x._1, x._2)).map { case (k, rs) =>
        val sorted = rs.sortBy(_._3)
        k -> (sorted.map(_._3), sorted.map(_._4))
      }
    input.unpersist(true)
    val segs = manifest.topics.head.partitions.head.segments.take(DecodeSegments)
    decodeSet = segs.map(s => java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/${s.key}")))
    decodeMb = segs.map(_.uncompressed_size).sum / 1e6
  }

  private def inWindow(cfg: RestoreConfig, ts: Long): Boolean =
    cfg.windowStartMs.forall(ts >= _) && cfg.windowEndMs.forall(ts <= _)

  /** Restored offsets of one (topic, partition), in offset order. */
  private def windowOffsets(cfg: RestoreConfig, tp: (String, Int)): Array[Long] =
    if (!cfg.sourcePartitions.forall(_.contains(tp._2)) ||
        !(cfg.includeTopics.isEmpty || cfg.includeTopics.contains(tp._1))) Array.emptyLongArray
    else {
      val (offs, ts) = index(tp)
      offs.indices.filter(i => inWindow(cfg, ts(i))).map(offs).toArray
    }

  type Op = Request

  def prepare(kind: String, op: Long): Request = {
    val r = Rng.at(seed, 31, op)
    val shuffled = new scala.util.Random(r.nextLong()).shuffle((0 until spec.partitions).toList)
    val cfg =
      if (kind == "full")
        RestoreConfig(root, Id, includeTopics = Seq(Records.TopicNames(r.nextInt(spec.topics))))
      else {
        val start = Records.T0 + r.nextLong(spec.spanMs - HourMs)
        RestoreConfig(root, Id, Some(start), Some(start + HourMs - 1),
          sourcePartitions = Some(shuffled.take(NarrowPartitions).sorted))
      }
    val committed = index.keys.toSeq.sorted.flatMap { tp =>
      val offs = windowOffsets(cfg, tp)
      if (offs.isEmpty) Nil
      else (0 until Groups).map(g => (s"cg-$g", tp._1, tp._2, offs(r.nextInt(offs.length))))
    }
    Request(cfg, committed, selected(manifest, cfg))
  }

  def run(req: Request, tr: Option[Tracer]): Done = {
    val (restored, results, plan) = tr match {
      case None =>
        val rep = ThreePhaseRestore.run(spark, req.cfg, new CollectingSink(),
          committed = req.committed, dryRun = true)
        (rep.records_restored, rep.produce_results,
          rep.reset_plan.toSeq.flatMap(_.entries).map(e =>
            (e.group_id, e.topic, e.partition, e.source_offset, e.target_offset)))
      case Some(t) => traced(t, req)
    }
    Done(req.segments.map(_.uncompressed_size).sum / 1e6,
      check = () => verify(req, restored, results, plan),
      probes = () => tr.foreach(t => probe(t, req, restored)))
  }

  /** The Spark work of `ThreePhaseRestore.run` on this request, as separate
    * calls. Phase 2 (restore and produce) is one span, split by stage type:
    * decode, window filter and remap end in the produce exchange's
    * shuffle-map stages; the sort and producer calls are its result stages.
    * Phase 3 resolves the distinct committed offsets with
    * `OffsetMappingDF.lookupTargets`.
    */
  private def traced(t: Tracer, req: Request)
      : (Long, Seq[ProduceResult], Seq[(String, String, Int, Long, Option[Long])]) = {
    val ((results, pairs, free), s) = t.span("pipelines.restore.phase2")(
      Produce.runDistributed(Restore.remapped(spark, req.cfg).as[KRecord], new CollectingSink()))
    val restored = results.map(_.recordCount).sum
    val (restore, produce) = Tracer.splitByStageType(s, t.records(s), restored)
    t.layers.add("pipelines.restore", restore)
    t.layers.add("sinks.produce", produce)
    try {
      val probes = req.committed.map { case (_, tp, p, o) => (tp, p, o) }.distinct
        .toDF("topic", "partition", "source_offset")
      val resolved = t.layer("remap.reset_plan")(
        OffsetMappingDF.lookupTargets(pairs, probes)
          .as[(String, Int, Long, Option[Long])].collect())(_.length.toLong)
        .map { case (tp, p, o, tgt) => (tp, p, o) -> tgt }.toMap
      (restored, results, req.committed.map { case (g, tp, p, o) =>
        (g, tp, p, o, resolved.getOrElse((tp, p, o), None)) })
    } finally free()
  }

  /** The catalog entries a request's pruning selects. */
  private def selected(m: BackupManifest, cfg: RestoreConfig): Seq[SegmentMetadata] = {
    val keys = Restore.prunedSegmentKeys(m, cfg).toSet
    m.topics.flatMap(_.partitions).flatMap(_.segments).filter(s => keys(s.key))
  }

  /** Catalog and codec probes for a traced request. */
  private def probe(t: Tracer, req: Request, restored: Long): Unit = {
    t.single("catalog.prune_s", Workload.timed {
      Restore.prunedSegmentKeys(Manifest.load(root, Id), req.cfg)
    })
    val decoded = req.segments.map(_.record_count).sum
    if (req.cfg.windowStartMs.isDefined) {
      t.single("catalog.segments_read_ratio", req.segments.size.toDouble / manifest.totalSegments)
      if (decoded > 0) t.single("pipelines.restore.window_yield", restored.toDouble / decoded)
    }
    t.single("codec.decode_mb_s", Workload.rate(decodeMb, 0.2) {
      decodeSet.foreach(b => SegmentCodec.decode(b).foreach(_ => ()))
    })
  }

  /** Restored count matches the generator for the window and partitions,
    * and every committed offset resolves to its exact target, inside the
    * offsets produced for its partition.
    */
  private def verify(req: Request, restored: Long, results: Seq[ProduceResult],
                     plan: Seq[(String, String, Int, Long, Option[Long])]): Option[String] = {
    val windows = index.keys.map(tp => tp -> windowOffsets(req.cfg, tp)).toMap
    val want = windows.values.map(_.length.toLong).sum
    val produced = results.map(r => (r.topic, r.partition) -> r).toMap
    val resolved = plan.map(e => (e._1, e._2, e._3, e._4) -> e._5).toMap
    if (restored != want) Some(s"restored $restored records, generator has $want")
    else req.committed.iterator.flatMap { case key @ (g, tp, p, o) =>
      val target = windows((tp, p)).count(_ < o).toLong
      (resolved.get(key).flatten, produced.get((tp, p))) match {
        case (Some(got), Some(res)) if got == res.baseOffset + target &&
            got < res.baseOffset + res.recordCount => None
        case (got, res) => Some(s"$g $tp/$p offset $o: target $got, expected " +
          s"${res.map(_.baseOffset + target)} within ${res.map(r => (r.baseOffset, r.recordCount))}")
      }
    }.nextOption()
  }

  def close(): Unit = Workload.deleteTree(root)
}

object RestoreBench {
  /** A restore request, its consumer-group commits and the catalog entries
    * its pruning selects.
    */
  final case class Request(cfg: RestoreConfig, committed: Seq[(String, String, Int, Long)],
                           segments: Seq[SegmentMetadata])
}
