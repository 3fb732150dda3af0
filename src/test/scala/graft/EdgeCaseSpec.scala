package graft

import graft.ann.Ann
import graft.dedup.Dedup
import graft.functions.{KFunctions, KHash}
import org.apache.spark.sql.functions._

/** Regressions for the review-found edge cases: ANSI-mode division/index
  * crashes, degenerate inputs (zero vectors, null/short texts), substring
  * regex semantics, and validation of missing partitions/objects.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  test("round-12 operators on degenerate inputs: empty corpora, all-null media, no benchmark") {
    import graft.multimodal.{MediaRecord, Multimodal}
    val emptyDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    // sequence packing of nothing: empty map, no window crash
    assert(graft.text.CorpusClean.packSequences(emptyDocs, 512).count() == 0)
    // HTML extraction of empty/whitespace/non-HTML strings
    val h = Seq((1L, ""), (2L, "   "), (3L, "plain text, no tags"))
      .toDF("id", "t")
      .select(graft.text.CorpusClean.extractHtmlText(col("t")).as("c"))
      .collect().map(_.getString(0))
    assert(h.toSeq == Seq("", "", "plain text, no tags"))
    // provenance with an EMPTY benchmark: nothing flags, no crash
    val corpus = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    assert(graft.text.Sampling.decontaminateReport(corpus,
      emptyDocs.select("doc_id", "text"), shingleN = 3).count() == 0)
    // media ops over empty / all-null-payload sets
    val emptyMedia = Seq.empty[MediaRecord].toDS()
    assert(Multimodal.filterMedia(emptyMedia).count() == 0)
    assert(Multimodal.videoPairs(emptyMedia).count() == 0)
    assert(Multimodal.audioPairs(emptyMedia).count() == 0)
    val nullMedia = Seq(
      MediaRecord(1L, "video", null, Map.empty),
      MediaRecord(2L, "audio", null, Map.empty),
      MediaRecord(3L, "image", null, Map.empty)).toDS()
    assert(Multimodal.videoPairs(nullMedia).count() == 0)
    assert(Multimodal.audioPairs(nullMedia).count() == 0)
    assert(Dedup.hammingClusters(
      Multimodal.perceptualHash(nullMedia)
        .select(col("media_id").as("id"), col("phash").as("sig"))).count() == 0)
    // null payloads still pass the filter annotate (empty-payload dims)
    assert(Multimodal.filterMedia(nullMedia).count() == 3)
    // empty-corpus tercile fit: None cuts (covered in LmScoreSpec) and the
    // pack/capstone rollups stay empty rather than throwing
    assert(graft.text.CorpusClean.packShards(emptyDocs, 100).count() == 0)
  }

  test("zero embedding vectors don't crash cosine paths (ANSI ÷0)") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 0.0f)), (3L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val top = Ann.bruteForceTopK(vecs, "vec_id", "embedding", Seq(1.0, 0.0), 3).collect()
    // zero vector yields NULL cosine; orderBy desc puts it last, job survives
    assert(top.length == 3)
    assert(top.head.getLong(0) == 1L)
    val pairs = Dedup.embeddingPairs(vecs, "vec_id", "embedding", dim = 2,
      bits = 2, threshold = 0.1).collect()
    assert(!pairs.exists(r => r.getLong(0) == 2L || r.getLong(1) == 2L),
      "zero vector must not pair")
  }

  test("incremental dedup degenerate inputs: empty batch, empty index, empty corpus sigs") {
    val docs = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val emptyDocs = docs.limit(0)
    // empty index keeps the whole batch (nothing historical to collide with)
    val allKept = Dedup.incrementalExact(docs, "doc_id", "text",
      Dedup.exactIndex(emptyDocs, "doc_id", "text"))
    assert(allKept.count() == 2)
    // empty batch survives the window + anti-join with zero rows
    val none = Dedup.incrementalExact(emptyDocs, "doc_id", "text",
      Dedup.exactIndex(docs, "doc_id", "text"))
    assert(none.count() == 0)
    // empty corpus signature table: band join has nothing to hit
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 16)
    assert(Dedup.minhashIncrementalPairs(sigs,
      Dedup.minhashSignatures(emptyDocs, "doc_id", "text", 3, 16),
      k = 16, bands = 4, threshold = 0.1).count() == 0)
  }

  test("null-text rows pass through exact dedup untouched") {
    val df = Seq((1L, "same"), (2L, "same"), (3L, null), (4L, null))
      .toDF("doc_id", "text")
    val kept = Dedup.exact(df, "doc_id", "text").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L), "nulls are not duplicates of each other")
  }

  test("docs shorter than the shingle width never minhash/simhash-pair") {
    val df = Seq((1L, "one two"), (2L, "three four"), (3L, "a b"),
      (4L, ""), (5L, ""))
      .toDF("doc_id", "text")
    assert(Dedup.minhashPairs(df, "doc_id", "text", shingleN = 3, k = 16,
      bands = 4, threshold = 0.0).count() == 0)
    // identical empty docs must not simhash-pair even at the widest radius
    // (31 is the cap: bands need >= 2 bits to discriminate at all)
    assert(Dedup.simhashPairs(df.filter(col("doc_id") >= 4), "doc_id", "text",
      maxHamming = 31).count() == 0)
    intercept[IllegalArgumentException](
      Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 64))
  }

  test("ANN dim mismatch raises loudly instead of all-NULL garbage top-k") {
    val vecs = Seq((1L, Array.fill(8)(1.0f))).toDF("vec_id", "embedding")
    val wrongDim = Seq.fill(16)(1.0) // 16-dim query vs 8-dim corpus
    val e = intercept[Exception] {
      Ann.bruteForceTopK(vecs, "vec_id", "embedding", wrongDim, 5).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("dim mismatch"),
      s"expected loud dim-mismatch error, got: ${e.getMessage}")
    val eq = intercept[Exception] {
      Ann.bruteForceTopKQuantized(Ann.quantizeInt8(vecs, "embedding"),
        "vec_id", wrongDim, 5).collect()
    }
    assert(eq.getMessage != null && eq.getMessage.contains("dim mismatch"))
    // matching dims still work
    assert(Ann.bruteForceTopK(vecs, "vec_id", "embedding",
      Seq.fill(8)(1.0), 5).count() == 1)
  }

  test("bloom decontamination: null/short texts flag nothing, like the exact path") {
    val corpus = Seq((1L, null: String), (2L, "too short"),
      (3L, "alpha beta gamma extra")).toDF("doc_id", "text")
    val bench = Seq((9L, "alpha beta gamma")).toDF("doc_id", "text")
    val exact = graft.text.Sampling.decontaminate(corpus, bench, shingleN = 3)
      .collect().map(_.getLong(0)).toSet
    val bloomed = graft.text.Sampling.decontaminateBloom(corpus, bench, shingleN = 3)
      .collect().map(_.getLong(0)).toSet
    assert(exact == Set(3L) && bloomed == exact)
  }

  test("BPE handles unicode text and whitespace-only docs") {
    val df = Seq("héllo héllo wörld", "   ", "日本語 日本語 テスト").toDF("text")
    val r = graft.text.BpeTrainer.train(df, "text", numMerges = 4, minFreq = 1L)
    assert(r.merges.nonEmpty)
    // symbols reassemble to the exact lowercased words — no codepoint loss
    val words = r.symWords.select(col("word"), concat_ws("", col("syms")).as("j"))
      .collect()
    words.foreach(w => assert(w.getString(0) == w.getString(1)))
    assert(words.map(_.getString(0)).toSet ==
      Set("héllo", "wörld", "日本語", "テスト"))
  }

  test("header_value returns NULL for absent keys instead of ANSI index crash") {
    val df = KRecordFixtures.withHeaders(spark)
    val out = df.select(
      KFunctions.header_value(col("headers"), "present").as("p"),
      KFunctions.header_value(col("headers"), "absent").as("a")).head()
    assert(new String(out.getAs[Array[Byte]]("p")) == "v")
    assert(out.isNullAt(1))
  }

  test("~regex topic patterns match as substring; invalid regex matches nothing") {
    assert(KHash.topicMatches("orders-internal-v2", Nil, Seq("~internal")) == false)
    assert(KHash.topicMatches("orders-public", Nil, Seq("~internal")))
    assert(!KHash.topicMatches("anything", Seq("~[unclosed"), Nil),
      "invalid regex must select nothing, not throw")
  }

  test("url curation and corpus diff degenerate inputs: empty frames, all-null urls") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, Long)].toDF("doc_id", "url", "n_chars")
    assert(graft.text.CorpusClean.urlDedup(empty, "url").count() == 0L)
    assert(graft.text.CorpusClean.domainCap(empty, "url", 3).count() == 0L)
    val allNull = Seq((1L, null.asInstanceOf[String], 5L),
      (2L, null.asInstanceOf[String], 6L)).toDF("doc_id", "url", "n_chars")
    // null urls never group: both survive both operators
    assert(graft.text.CorpusClean.urlDedup(allNull, "url").count() == 2L)
    assert(graft.text.CorpusClean.domainCap(allNull, "url", 1).count() == 2L)

    val docs = Seq((1L, "t", "s")).toDF("doc_id", "text", "source")
    val none = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    // empty old snapshot → everything added; empty new → everything removed
    val added = graft.text.CorpusDiff.diff(none, docs).collect()
    assert(added.length == 1 && added(0).getAs[String]("status") == "added")
    val removed = graft.text.CorpusDiff.diff(docs, none).collect()
    assert(removed.length == 1 && removed(0).getAs[String]("status") == "removed")
    assert(graft.text.CorpusDiff.diff(none, none).count() == 0L)
  }

  test("edit-distance confirm: empty pair set, maxDist 0 keeps only identical prefixes") {
    import spark.implicits._
    val docsDf = Seq((1L, "aaa"), (2L, "aab")).toDF("doc_id", "text")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(graft.dedup.Dedup.confirmPairsEditDistance(
      noPairs, docsDf, maxDist = 3).count() == 0L)
    val p = Seq((1L, 2L)).toDF("id_a", "id_b")
    assert(graft.dedup.Dedup.confirmPairsEditDistance(
      p, docsDf, maxDist = 0).count() == 0L)
    assert(graft.dedup.Dedup.confirmPairsEditDistance(
      p, docsDf, maxDist = 1).count() == 1L)
  }

  test("validation flags partitions missing from either side (full outer)") {
    import graft.validation.Validation
    val segments = Seq(("t", 0, "k0", 0L, 9L, 0L, 0L, 10L, 0L, 0L))
      .toDF("topic", "partition", "segment_key", "start_offset", "end_offset",
        "start_timestamp", "end_timestamp", "record_count", "uncompressed_size",
        "compressed_size")
    val cluster = Seq(("t", 0, 0L, 10L), ("t", 1, 0L, 5L)) // partition 1 never backed up
      .toDF("topic", "partition", "earliest_offset", "latest_offset")
    val res = Validation.messageCount(segments, cluster).collect()
      .map(r => r.getInt(1) -> r.getString(5)).toMap
    assert(res(0) == "Passed")
    assert(res(1) == "Failed", "missing partition must fail, not vanish")
  }

  test("blocklist, retrieval, keep-best: empty inputs degrade to no-ops, not errors") {
    import graft.text.CorpusClean
    import graft.ann.Retrieval
    import graft.dedup.Clusters
    val docs = Seq((1L, "https://a.com/x", "alpha beta gamma"))
      .toDF("doc_id", "url", "text")
    val emptyBl = Seq.empty[(String, String)].toDF("kind", "pattern")
    // empty blocklist: everything kept, in both forms
    assert(CorpusClean.urlBlocklist(docs, "url", emptyBl)
      .where(col("blocked_by").isNotNull).count() == 0L)
    assert(CorpusClean.urlBlocklistFilter(docs, "url", emptyBl).count() == 1L)
    // zero queries: empty retrieval result, no failure
    val noQueries = Seq.empty[(Long, String)].toDF("query_id", "text")
    assert(Retrieval.retrieveChunks(docs.drop("url"), noQueries, k = 3)
      .count() == 0L)
    // empty corpus: keep-best returns an empty frame with the full schema
    val emptyDocs = Seq.empty[(Long, Long)].toDF("doc_id", "q")
    val kb = Clusters.keepBestPerGroup(emptyDocs, "doc_id",
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "q")
    assert(kb.count() == 0L &&
      kb.columns.toSet == Set("doc_id", "q", "component", "kept_id", "is_kept"))
  }

  test("deep validation reports a deleted segment object as Failed") {
    import graft.codec.CompressionCodec
    import graft.pipelines.{Backup, BackupConfig}
    val tmp = java.nio.file.Files.createTempDirectory("deep-missing").toString
    val m = Backup.run(spark, graft.model.KRecord.fromEvents(spark, sf0001),
      BackupConfig("dm", tmp, CompressionCodec.None, enrichHeaders = false))
    val victim = m.topics.head.partitions.head.segments.head.key
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$tmp/$victim"))
    val res = graft.validation.Validation.deep(spark, tmp, "dm")
    val failed = res.filter(col("outcome") === "Failed").collect()
    assert(failed.length == 1)
    assert(failed(0).getAs[String]("segment_key") == victim)
    assert(failed(0).getAs[String]("decode_error") == "object missing")
  }

  test("fid packing: a media id at 2^43 fails both producers loudly, naming the id") {
    import graft.multimodal.{MediaRecord, Multimodal}
    val payload = Array.fill[Byte](2048)(7)
    val ok = (1L << 43) - 1
    assert(Multimodal.frameHashes(Seq(MediaRecord(ok, "video", payload, Map.empty)).toDS())
      .count() > 0)
    assert(Multimodal.audioFingerprints(Seq(MediaRecord(-ok, "audio", payload, Map.empty)).toDS())
      .count() > 0)
    val bad = 1L << 43
    Seq(
      () => Multimodal.frameHashes(Seq(MediaRecord(bad, "video", payload, Map.empty)).toDS()),
      () => Multimodal.audioFingerprints(Seq(MediaRecord(bad, "audio", payload, Map.empty)).toDS()),
      () => Multimodal.audioFingerprints(Seq(MediaRecord(-bad, "audio", payload, Map.empty)).toDS())
    ).foreach { run =>
      val ex = intercept[Exception](run().count())
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).toList
      assert(msgs.exists(m => m.contains(bad.toString) && m.contains("2^43")), msgs.mkString(" | "))
    }
  }
}

object KRecordFixtures {
  def withHeaders(spark: org.apache.spark.sql.SparkSession) = {
    import spark.implicits._
    Seq(1).toDF("x").select(
      array(struct(lit("present").as("key"), encode(lit("v"), "UTF-8").as("value")))
        .as("headers"))
  }
}
