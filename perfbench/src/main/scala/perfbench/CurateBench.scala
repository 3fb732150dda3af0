package perfbench

import graft.dedup.{Clusters, Dedup}
import graft.text.{LmScore, Sampling, TextFunctions}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The LLM-data path: near-duplicate pairs (MinHash on text, hyperplane LSH
  * on embeddings) → connected components keeping the best document per
  * group → duplicate-span trimming → trigram LM train and score → cut at the
  * mean score → temperature mixing over sources → per-source rollup, written
  * to the `noop` sink. One operation is the whole chain.
  */
final class CurateBench(env: Env) extends Workload {
  import env._
  import spark.implicits._
  import Workload.{layer, materialize}

  val spec: DocSpec =
    if (tiny) DocSpec(600, 5000, 1.0, 20, 60, 300, 10, 0.3, 0.1, 0.05, 0.05, 0.2)
    else DocSpec(2000, 20000, 1.0, 20, 60, 300, 20, 0.3, 0.1, 0.05, 0.05, 0.2)
  private val MinhashThreshold = 0.5
  private val CosineThreshold = 0.9
  private val RecallFloor = 0.9
  private val JaccardSample = 32

  private var corpus: Corpus = _
  private var all: DataFrame = _
  private var planted: Set[(Long, Long)] = _
  private var plantedEmb: Set[(Long, Long)] = _
  private var textMb = 0.0

  def latencyKind: String = "curate"
  def throughputKind: String = "curate"
  def blockKinds(block: Long): Seq[String] = Seq("curate")

  def setup(): Unit = {
    if (all != null) all.unpersist(true)
    corpus = new Corpus(seed, spec)
    all = corpus.generate(spark, cores * 2).persist()
    textMb = all.agg(sum(length(col("text")))).head().getLong(0) / 1e6
    planted = corpus.plantedTextPairs
    plantedEmb = corpus.plantedEmbeddingPairs
  }

  private def docs = all.select("doc_id", "source", "quality", "text")

  type Op = Unit
  def prepare(kind: String, op: Long): Unit = ()

  def run(op: Unit, tr: Option[Tracer]): Done = {
    val (mh, _) = layer(tr, "dedup.minhash")(materialize(
      Dedup.minhashPairs(docs, "doc_id", "text", threshold = MinhashThreshold)))(_._2)
    val (emb, _) = layer(tr, "dedup.embedding")(materialize(
      Dedup.embeddingPairs(all.select(col("doc_id").as("vec_id"), col("embedding")),
        "vec_id", "embedding", dim = spec.dim, bits = 10, threshold = CosineThreshold,
        knownCount = Some(spec.docs.toLong), tables = 4).select("id_a", "id_b")))(_._2)
    val pairs = mh.select("id_a", "id_b").union(emb)
    val (kept, _) = tr match {
      case None => materialize(keepBest(pairs))
      case Some(t) =>
        val (k, s) = t.span("dedup.clusters")(materialize(keepBest(pairs)))
        t.single("dedup.clusters.jobs", t.record("dedup.clusters", s, k._2).jobs.size)
        k
    }
    val (trimmed, _) = layer(tr, "dedup.trim_spans")(materialize(
      Dedup.trimDupSpans(kept.select("doc_id", "text"), windowN = 13)
        .where(length(col("text")) > 0).select("doc_id", "text")))(_._2)
    val model = layer(tr, "text.lm_train")(LmScore.train(trimmed).cache())(_.uni.count())
    val (scored, _) = layer(tr, "text.lm_score")(materialize(LmScore.score(trimmed, model)))(_._2)
    layer(tr, "text.mix") {
      val cut = scored.agg(avg("avg_logprob")).head().getDouble(0)
      val o = Observation()
      Sampling.temperatureMix(
          scored.where(col("avg_logprob") >= cut).join(kept.select("doc_id", "source"), "doc_id"),
          alpha = 0.5, salt = "cur")
        .observe(o, count(lit(1)).as("n"))
        .groupBy("source")
        .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_copies"),
          avg("avg_logprob").as("avg_lp"))
        .write.mode("overwrite").format("noop").save()
      o.get("n").asInstanceOf[Long]
    }(identity)
    model.unpersist()
    Done(textMb, check = () => verify(mh, emb, tr))
  }

  private def keepBest(pairs: DataFrame): DataFrame =
    Clusters.keepBestPerGroup(docs, "doc_id", pairs, "quality")
      .where(col("is_kept")).select("doc_id", "source", "text")

  /** Planted-pair recall meets the floor, and a seeded sample of emitted
    * MinHash pairs passes an exact Jaccard check (same 3-token shingles as
    * the library) against the threshold, less three standard errors of a
    * 64-slot estimate.
    */
  private def verify(mh: DataFrame, emb: DataFrame, tr: Option[Tracer]): Option[String] = {
    val textPairs = mh.select("id_a", "id_b").as[(Long, Long)].collect()
    val embPairs = emb.as[(Long, Long)].collect().toSet
    val found = textPairs.count(planted) + plantedEmb.count(embPairs)
    val recall = found.toDouble / (planted.size + plantedEmb.size)
    tr.foreach(_.single("dedup.pair_recall", recall))
    val r = Rng.at(seed, 40, 0)
    val sampled = if (textPairs.isEmpty) Seq.empty
      else Seq.fill(JaccardSample)(textPairs(r.nextInt(textPairs.length))).distinct
    val ids = sampled.flatMap(p => Seq(p._1, p._2)).distinct
    val shingles = docs.where(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), array_distinct(TextFunctions.shingles(col("text"), 3)))
      .as[(Long, Seq[String])].collect().map { case (i, s) => i -> s.toSet }.toMap
    val floor = MinhashThreshold - 3 * 0.5 / math.sqrt(64)
    val low = sampled.map { case (a, b) =>
      val (x, y) = (shingles(a), shingles(b))
      ((a, b), (x & y).size.toDouble / (x | y).size)
    }.filter(_._2 < floor)
    if (recall < RecallFloor) Some(f"planted-pair recall $recall%.4f below $RecallFloor")
    else if (low.nonEmpty) Some(s"minhash pairs below Jaccard $floor: ${low.take(3)}")
    else None
  }

  def close(): Unit = if (all != null) all.unpersist(true)
}
