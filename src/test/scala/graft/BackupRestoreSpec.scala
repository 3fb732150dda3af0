package graft

import graft.catalog.Manifest
import graft.codec.CompressionCodec
import graft.functions.{KFunctions, KHash}
import graft.model.KRecord
import graft.pipelines.{Backup, BackupConfig, Restore, RestoreConfig}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end slice (SURVEY §7): events fixture → KBAK segments + manifest on
  * local FS → restore with PITR window → boundary-inclusive equality.
  */
class BackupRestoreSpec extends SparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft-backup").toString

  private lazy val manifest = {
    val records = KRecord.fromEvents(spark, sf0001)
    Backup.run(spark, records,
      BackupConfig("b1", tmp, CompressionCodec.Zstd, maxSegmentBytes = 16 * 1024))
  }

  test("backup writes segments and a loadable manifest") {
    assert(manifest.totalRecords == 1000)
    assert(manifest.topics.size == 5) // event types
    val loaded = Manifest.load(tmp, "b1")
    assert(loaded.totalRecords == 1000)
    assert(loaded.totalSegments == manifest.totalSegments && loaded.totalSegments > 0)
    // segment stats are consistent
    loaded.topics.flatMap(_.partitions).foreach { p =>
      val segs = p.segments
      assert(segs == segs.sortBy(_.start_offset))
      segs.foreach { s =>
        assert(s.start_offset <= s.end_offset)
        assert(s.start_timestamp <= s.end_timestamp)
        assert(s.record_count > 0)
      }
    }
  }

  test("restore round-trips every record (no window)") {
    import spark.implicits._
    manifest // force backup
    val restored = Restore.records(spark, RestoreConfig(tmp, "b1"))
    assert(restored.count() == 1000)
    val restoredIds = restored.map(_.offset).collect().sorted
    assert(restoredIds.toSeq == (0L until 1000L))
    // per-partition offset order preserved within each decoded segment scan
    val byPart = restored.collect().groupBy(r => (r.topic, r.partition))
    byPart.foreach { case (_, rs) =>
      val offs = rs.map(_.offset).toSeq
      assert(offs == offs.sorted, "per-partition offset order")
    }
  }

  test("PITR window is boundary-inclusive at ms precision") {
    import spark.implicits._
    manifest
    val all = KRecord.fromEvents(spark, sf0001)
      .select("offset", "timestamp").as[(Long, Long)].collect().toMap
    val ts = all.values.toSeq.sorted
    val (t1, t2) = (ts(200), ts(800))
    val expected = all.filter { case (_, t) => t >= t1 && t <= t2 }.keySet
    val restored = Restore.records(spark, RestoreConfig(tmp, "b1", Some(t1), Some(t2)))
      .map(_.offset).collect().toSet
    assert(restored == expected)
    // boundary records themselves are present
    assert(restored.contains(all.find(_._2 == t1).get._1))
    assert(restored.contains(all.find(_._2 == t2).get._1))
    // empty window
    assert(Restore.records(spark, RestoreConfig(tmp, "b1", Some(t2 + 100000), Some(t2 + 200000)))
      .count() == 0)
  }

  test("segment pruning reads only overlapping segments") {
    manifest
    val m = Manifest.load(tmp, "b1")
    val allKeys = Restore.prunedSegmentKeys(m, RestoreConfig(tmp, "b1"))
    val ts = KRecord.fromEvents(spark, sf0001)
      .agg(min("timestamp"), max("timestamp")).collect()(0)
    val narrow = Restore.prunedSegmentKeys(m,
      RestoreConfig(tmp, "b1", Some(ts.getLong(0)), Some(ts.getLong(0) + 3600 * 1000)))
    assert(narrow.nonEmpty && narrow.size < allKeys.size, "time pruning must skip segments")
  }

  test("topic include/exclude and partition filter") {
    manifest
    val m = Manifest.load(tmp, "b1")
    val only = Restore.prunedSegmentKeys(m,
      RestoreConfig(tmp, "b1", includeTopics = Seq("purch*")))
    assert(only.nonEmpty && only.forall(_.contains("/topics/purchase/")))
    val excl = Restore.prunedSegmentKeys(m,
      RestoreConfig(tmp, "b1", excludeTopics = Seq("~purch.*")))
    assert(excl.nonEmpty && !excl.exists(_.contains("/topics/purchase/")))
    val p0 = Restore.prunedSegmentKeys(m,
      RestoreConfig(tmp, "b1", sourcePartitions = Some(Seq(0))))
    assert(p0.nonEmpty && p0.forall(_.contains("partition=0/")))
  }

  test("checkpoint anti-join skips completed segments (F9)") {
    manifest
    val m = Manifest.load(tmp, "b1")
    val all = Restore.prunedSegmentKeys(m, RestoreConfig(tmp, "b1"))
    val done = all.take(all.size / 2).toSet
    val remaining = Restore.prunedSegmentKeys(m,
      RestoreConfig(tmp, "b1", completedSegmentKeys = done))
    assert(remaining.toSet == all.toSet -- done)
  }

  test("header enrichment round-trips the original offset (F11/F12)") {
    manifest
    val restored = Restore.records(spark, RestoreConfig(tmp, "b1")).toDF()
    val extracted = restored.select(col("offset"),
      KFunctions.bytes_to_long_le(
        KFunctions.header_value(col("headers"), "x-original-offset")).as("header_offset"),
      KFunctions.bytes_to_long_le(
        KFunctions.header_value(col("headers"), "x-original-timestamp")).as("header_ts"),
      col("timestamp"))
    assert(extracted.filter(col("offset") =!= col("header_offset")).count() == 0)
    assert(extracted.filter(col("timestamp") =!= col("header_ts")).count() == 0)
  }

  test("topic rename and partition remap (F13/F14)") {
    manifest
    val df = Restore.remapped(spark, RestoreConfig(tmp, "b1",
      topicMapping = Map("click" -> "click_v2"), partitionMapping = Map(0 -> 7)))
    assert(df.filter(col("topic") === "click").count() == 0)
    assert(df.filter(col("topic") === "click_v2").count() > 0)
    assert(df.filter(col("partition") === 0).count() == 0)
    assert(df.filter(col("partition") === 7).count() > 0)
  }

  test("manifest merge dedups by key/start_offset, existing wins (J5)") {
    val m = Manifest.load(tmp, "b1")
    val merged = m.merge(m)
    assert(merged.totalSegments == m.totalSegments)
    assert(merged.totalRecords == m.totalRecords)
  }

  test("manifest merge: current session's partition count wins (J5 expansion)") {
    import graft.catalog.{PartitionBackup, SegmentMetadata, TopicBackup}
    def tb(n: Option[Int]) = graft.catalog.BackupManifest("b", 0L, None, Nil, "zstd",
      List(TopicBackup("t", n, List(PartitionBackup(0,
        List(SegmentMetadata("k0", 0, 9, 0, 9, 10, 100, 50)))))))
    // topic expanded 4 → 8 partitions between sessions: the CURRENT (merged-in)
    // count must propagate so restore auto-create provisions 8
    assert(tb(Some(4)).merge(tb(Some(8))).topics.head.original_partition_count
      .contains(8))
    // a current session without the count must not erase the recorded one
    assert(tb(Some(4)).merge(tb(None)).topics.head.original_partition_count
      .contains(4))
  }

  test("dry-run rollup totals match the manifest (A3)") {
    manifest
    val dr = Restore.dryRun(spark, RestoreConfig(tmp, "b1"))
    val global = dr.filter(col("topic").isNull && col("partition").isNull).collect()(0)
    assert(global.getAs[Long]("n_records") == 1000L)
    val perTopic = dr.filter(col("topic").isNotNull && col("partition").isNull)
    assert(perTopic.count() == 5)
  }

  test("kafka repartition column: murmur2 placement + null-key spread (2.10)") {
    manifest
    val df = Restore.records(spark, RestoreConfig(tmp, "b1")).toDF()
      .withColumn("target_partition", KFunctions.kafka_partition(col("key"), 12))
    val placed = df.select("key", "target_partition").collect()
    placed.foreach { row =>
      val expect = KHash.kafkaPartition(row.getAs[Array[Byte]](0), 12)
      assert(row.getInt(1) == expect)
    }
  }

  test("interval roll: a slow trickle splits segments by event-time span (St4)") {
    import spark.implicits._
    // 20 tiny records spaced 30 s apart: with a 60 s interval cap every
    // segment may span at most one minute of event time — size alone would
    // have packed them all into one segment
    val t0 = 1700000000000L
    val recs = (0 until 20).map(i => KRecord("trickle", 0, i.toLong,
      t0 + i * 30000L, null, Array.fill(8)(i.toByte), Seq.empty)).toDS().toDF()
    val root = Files.createTempDirectory("graft-interval").toString
    val m = Backup.run(spark, recs,
      BackupConfig("iv1", root, CompressionCodec.None,
        maxSegmentIntervalMs = Some(60000L), enrichHeaders = false))
    val segs = m.topics.flatMap(_.partitions).flatMap(_.segments)
    assert(segs.size > 1, "interval roll must split the trickle")
    segs.foreach(s => assert(s.end_timestamp - s.start_timestamp <= 60000L,
      s"segment spans ${s.end_timestamp - s.start_timestamp} ms > interval"))
    // manifest stats stay exact: contiguous offsets, all records accounted for
    assert(m.totalRecords == 20)
    val sorted = segs.sortBy(_.start_offset)
    assert(sorted.head.start_offset == 0 && sorted.last.end_offset == 19)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(b.start_offset == a.end_offset + 1)
      case _ =>
    }
    // and the data round-trips
    val restored = Restore.records(spark, RestoreConfig(root, "iv1"))
    assert(restored.count() == 20)
  }

  test("interval roll bounds the span even when spacing does not divide the cap (St4)") {
    import spark.implicits._
    // 45 s spacing with a 60 s cap: a seal-after-append writer would emit
    // 90 s segments; sealing before the span-stretching record keeps every
    // segment's event-time span strictly within the cap
    val t0 = 1700000000000L
    val recs = (0 until 12).map(i => KRecord("trickle45", 0, i.toLong,
      t0 + i * 45000L, null, Array.fill(8)(i.toByte), Seq.empty)).toDS().toDF()
    val root = Files.createTempDirectory("graft-interval45").toString
    val m = Backup.run(spark, recs,
      BackupConfig("iv2", root, CompressionCodec.None,
        maxSegmentIntervalMs = Some(60000L), enrichHeaders = false))
    val segs = m.topics.flatMap(_.partitions).flatMap(_.segments)
    assert(segs.size > 1)
    segs.foreach(s => assert(s.end_timestamp - s.start_timestamp <= 60000L,
      s"segment spans ${s.end_timestamp - s.start_timestamp} ms > interval"))
    assert(m.totalRecords == 12)
    val sorted = segs.sortBy(_.start_offset)
    assert(sorted.head.start_offset == 0 && sorted.last.end_offset == 11)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(b.start_offset == a.end_offset + 1)
      case _ =>
    }
  }

  test("restore metrics observation counts records and bytes (A5)") {
    manifest
    val (df, obs) = Restore.withMetrics(
      Restore.records(spark, RestoreConfig(tmp, "b1")).toDF())
    df.write.mode("overwrite").format("noop").save()
    val row = obs.get
    assert(row("records_restored") == 1000L)
    assert(row("bytes_restored").asInstanceOf[Long] > 0L)
  }

  test("PITR window edges: 50 seeded windows keep lo/hi, drop lo-1/hi+1, select a segment ending at lo") {
    import spark.implicits._
    // dense event time: every (topic, partition) holds one record per ms, so
    // lo-1 and hi+1 always name real records; small segments put segment
    // edges inside most windows
    val perPartition = 400
    val t0 = 1700000000000L
    val src = for {
      t <- Seq("ta", "tb"); p <- 0 until 3; o <- 0 until perPartition
    } yield KRecord(t, p, o.toLong, t0 + 17L * p + o, null, Array[Byte](o.toByte), Nil)
    val root = Files.createTempDirectory("graft-pitr-edges").toString
    val m = Backup.run(spark, src.toDS().toDF(),
      BackupConfig("edges", root, CompressionCodec.None, maxSegmentBytes = 1024,
        enrichHeaders = false))
    val allStamps = src.map(_.timestamp).toSet
    val maxTs = allStamps.max
    // segments whose end leaves room for a record on each side of a window
    val edges = m.topics.flatMap(_.partitions).flatMap(_.segments)
      .filter(s => s.end_timestamp > t0 && s.end_timestamp < maxTs)
    assert(edges.size > 30)
    val rnd = new scala.util.Random(5)
    (1 to 50).foreach { i =>
      // lo is some segment's end timestamp; hi lies up to 150 ms past it
      val edge = edges(rnd.nextInt(edges.size))
      val lo = edge.end_timestamp
      val hi = math.min(lo + rnd.nextInt(150), maxTs - 1)
      val cfg = RestoreConfig(root, "edges", Some(lo), Some(hi))
      assert(Restore.prunedSegmentKeys(m, cfg).contains(edge.key),
        s"window $i [$lo, $hi]: segment ${edge.key} ending at lo not selected")
      val got = Restore.records(spark, cfg).map(r => (r.topic, r.partition, r.timestamp))
        .collect().toSet
      val want = src.filter(r => r.timestamp >= lo && r.timestamp <= hi)
        .map(r => (r.topic, r.partition, r.timestamp)).toSet
      assert(got == want, s"window $i [$lo, $hi]")
      val stamps = got.map(_._3)
      assert(stamps.contains(lo) && stamps.contains(hi), s"window $i [$lo, $hi]: edge dropped")
      assert(!stamps.contains(lo - 1) && !stamps.contains(hi + 1),
        s"window $i [$lo, $hi]: record outside the window kept")
      // the outside neighbours exist, so the drop assertions are not vacuous
      assert(allStamps.contains(lo - 1) && allStamps.contains(hi + 1), s"window $i [$lo, $hi]")
    }
  }
}
