package perfbench

import graft.functions.KFunctions
import graft.model.{KHeader, KRecord}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seeded randomness. Every draw comes from a stream keyed by
  * (seed, purpose, index), so an input row is a pure function of its index:
  * any Spark partitioning, any retry and any driver-side re-derivation see
  * the same values.
  */
object Rng {
  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def at(seed: Long, stream: Int, i: Long): SplittableRandom =
    new SplittableRandom(mix64(mix64(seed * 0x9e3779b97f4a7c15L + stream) ^ i))
}

/** Inverse-CDF Zipf sampler over ranks `0 until n` with exponent `s`. */
final class Zipf(n: Int, s: Double) extends Serializable {
  private val cdf: Array[Double] = {
    val c = new Array[Double](n)
    var acc = 0.0
    var k = 0
    while (k < n) { acc += 1.0 / math.pow(k + 1, s); c(k) = acc; k += 1 }
    k = 0
    while (k < n) { c(k) /= acc; k += 1 }
    c
  }

  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

object Words {
  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "den", "mar",
    "pol", "ger", "in", "at", "ex", "ul", "bra", "tor", "qui", "sen", "dal", "fen", "gor",
    "hal", "jin", "kel", "lum", "nor", "par", "ros", "sol", "tem", "var", "wen", "yor", "zel")

  /** A vocabulary of `n` distinct pseudo-words; rank k depends only on the seed. */
  def vocab(seed: Long, n: Int): Array[String] = {
    val out = new Array[String](n)
    val seen = new java.util.HashSet[String]()
    var k = 0
    var attempt = 0L
    while (k < n) {
      val r = Rng.at(seed, 1, attempt)
      attempt += 1
      val sb = new StringBuilder
      (0 until 1 + r.nextInt(4)).foreach(_ => sb.append(Syllables(r.nextInt(Syllables.length))))
      val w = sb.toString
      if (seen.add(w)) { out(k) = w; k += 1 }
    }
    out
  }
}

/** Kafka record inputs for the backup and restore workloads.
  *
  * @param records     record count
  * @param topics      topic count (names from [[Records.TopicNames]])
  * @param partitions  partitions per topic; keys are placed by the Kafka
  *                    default partitioner (murmur2), so Zipf keys skew them
  * @param keys        distinct keys; key rank follows Zipf(`keySkew`)
  * @param valueMin    smallest value, bytes; sizes are log-uniform up to `valueMax`
  * @param spanMs      event-time span; timestamps rise with the record index
  *                    and jitter by up to 2 s, so offsets and times disagree
  *                    slightly, as they do in Kafka
  */
final case class RecordSpec(records: Long, topics: Int, partitions: Int, keys: Int,
                            keySkew: Double, valueMin: Int, valueMax: Int, spanMs: Long,
                            vocab: Int)

object Records {
  val T0: Long = 1700000000000L
  val TopicNames: Array[String] = Array("orders", "clicks", "payments", "inventory")
  private val EventTypes = Array("view", "add_to_cart", "checkout", "refund", "search", "login")
  private val Currencies = Array("EUR", "USD", "GBP", "JPY")
  private val HeaderKeys = Array("trace-id", "content-type", "schema-version", "producer")

  final case class Draft(seq: Long, topic: String, key: Array[Byte], timestamp: Long,
                         value: Array[Byte], headers: Seq[KHeader])

  /** The record set as a canonical-record DataFrame in arrival (index)
    * order. Offsets are assigned per (topic, partition) in index order,
    * starting at 0. The final sort also hides the offset window's
    * (topic, partition) hash partitioning, as a real source would: a cached
    * input that kept it would let Spark drop the backup's own exchange.
    */
  def generate(spark: SparkSession, seed: Long, spec: RecordSpec, slices: Int): DataFrame = {
    import spark.implicits._
    val keyZipf = new Zipf(spec.keys, spec.keySkew)
    val words = Words.vocab(seed, spec.vocab)
    val wordZipf = new Zipf(spec.vocab, 1.0)
    val drafts = spark.range(0, spec.records, 1, slices).as[Long]
      .mapPartitions(_.map(i => draft(seed, spec, keyZipf, words, wordZipf, i)))
    drafts
      .withColumn("partition", KFunctions.kafka_partition(col("key"), spec.partitions))
      .withColumn("offset", row_number().over(
        Window.partitionBy("topic", "partition").orderBy("seq")).cast("long") - 1L)
      .orderBy("seq")
      .select("topic", "partition", "offset", "timestamp", "key", "value", "headers")
  }

  def draft(seed: Long, spec: RecordSpec, keyZipf: Zipf, words: Array[String],
            wordZipf: Zipf, i: Long): Draft = {
    val r = Rng.at(seed, 2, i)
    val topic = TopicNames(r.nextInt(spec.topics))
    val user = keyZipf.sample(r)
    val ts = T0 + i * spec.spanMs / spec.records + r.nextLong(-2000L, 2001L)
    val size = math.exp(math.log(spec.valueMin) +
      r.nextDouble() * (math.log(spec.valueMax) - math.log(spec.valueMin))).toInt
    val first = r.nextInt(HeaderKeys.length)
    val headers = (0 until r.nextInt(4)).map { h =>
      val k = HeaderKeys((first + h) % HeaderKeys.length)
      val v = k match {
        case "trace-id" => java.lang.Long.toHexString(r.nextLong()) +
          java.lang.Long.toHexString(r.nextLong())
        case "content-type" => "application/json"
        case "schema-version" => "v" + (1 + r.nextInt(3))
        case _ => "svc-" + r.nextInt(24)
      }
      KHeader(k, v.getBytes(UTF_8))
    }
    Draft(i, topic, s"user-$user".getBytes(UTF_8), ts,
      value(r, size, user, ts, words, wordZipf), headers)
  }

  /** A JSON-like order event padded with line items up to `size` bytes. */
  private def value(r: SplittableRandom, size: Int, user: Int, ts: Long,
                    words: Array[String], wordZipf: Zipf): Array[Byte] = {
    val sb = new java.lang.StringBuilder(size + 256)
    sb.append("{\"event_id\":\"").append(java.lang.Long.toHexString(r.nextLong()))
      .append("\",\"user_id\":\"user-").append(user)
      .append("\",\"event_type\":\"").append(EventTypes(r.nextInt(EventTypes.length)))
      .append("\",\"ts\":").append(ts)
      .append(",\"currency\":\"").append(Currencies(r.nextInt(Currencies.length)))
      .append("\",\"items\":[")
    var first = true
    while (sb.length < size) {
      if (!first) sb.append(',')
      first = false
      sb.append("{\"sku\":\"SKU-").append(10000 + wordZipf.sample(r))
        .append("\",\"qty\":").append(1 + r.nextInt(5))
        .append(",\"price\":").append(r.nextInt(20000) / 100.0)
        .append(",\"tags\":[\"").append(words(wordZipf.sample(r)))
        .append("\",\"").append(words(wordZipf.sample(r)))
        .append("\"],\"comment\":\"")
      (0 until 3 + r.nextInt(6)).foreach { w =>
        if (w > 0) sb.append(' ')
        sb.append(words(wordZipf.sample(r)))
      }
      sb.append("\"}")
    }
    sb.append("]}")
    java.util.Arrays.copyOf(sb.toString.getBytes(UTF_8), size)
  }
}

/** Order-insensitive per-(topic, partition) digest of (offset, key, value,
  * headers): a record count and the wrapping sum of 64-bit record hashes.
  */
object Digest {
  type Table = Map[(String, Int), (Long, Long)]

  private def bytesHash(b: Array[Byte]): Long =
    if (b == null) 0x5bd1e995L
    else (scala.util.hashing.MurmurHash3.bytesHash(b, 0x3c074a61).toLong << 32) ^
      (scala.util.hashing.MurmurHash3.bytesHash(b, 0x7f4a7c15).toLong & 0xffffffffL)

  def recordHash(offset: Long, key: Array[Byte], value: Array[Byte],
                 headers: Iterator[(String, Array[Byte])]): Long = {
    var h = Rng.mix64(offset)
    h = Rng.mix64(h ^ bytesHash(key))
    h = Rng.mix64(h ^ (bytesHash(value) * 31))
    headers.foreach { case (k, v) =>
      h = Rng.mix64(h ^ bytesHash(k.getBytes(UTF_8)))
      h = Rng.mix64(h ^ bytesHash(v))
    }
    h
  }

  private def le8(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()

  /** The four headers `Backup.run` appends with its default `enrichHeaders`
    * and source cluster name.
    */
  def enrichment(r: KRecord): Seq[(String, Array[Byte])] = Seq(
    "x-original-offset" -> le8(r.offset),
    "x-original-timestamp" -> le8(r.timestamp),
    "x-source-cluster" -> "source-cluster".getBytes(UTF_8),
    "x-source-partition" -> r.partition.toString.getBytes(UTF_8))

  def of(ds: Dataset[KRecord], enrich: Boolean): Table = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap.empty[(String, Int), (Long, Long)]
      it.foreach { r =>
        val hs = r.headers.iterator.map(h => h.key -> h.value) ++
          (if (enrich) enrichment(r).iterator else Iterator.empty)
        val h = recordHash(r.offset, r.key, r.value, hs)
        val (n, s) = acc.getOrElse((r.topic, r.partition), (0L, 0L))
        acc((r.topic, r.partition)) = (n + 1, s + h)
      }
      acc.iterator.map { case ((t, p), (n, s)) => (t, p, n, s) }
    }.collect().groupBy(x => (x._1, x._2)).map { case (k, xs) =>
      k -> xs.foldLeft((0L, 0L)) { case ((n, s), x) => (n + x._3, s + x._4) }
    }
  }
}

/** Document and embedding inputs for the curate workload.
  *
  * @param docs             document count
  * @param vocab            vocabulary size; tokens follow Zipf(`vocabSkew`)
  * @param sources          source count; sources follow Zipf(1)
  * @param boilerplates     distinct boilerplate spans of 25 uniform-vocabulary tokens
  * @param boilerplateShare share of documents carrying one planted boilerplate span
  * @param dupShare         share of documents that are planted near-duplicates
  * @param editRate         share of an original's tokens a near-duplicate replaces
  * @param embShare         share of embeddings that are planted near neighbours
  * @param embNoise         relative noise added to a neighbour (cosine ≈ 1/√(1+noise²))
  */
final case class DocSpec(docs: Int, vocab: Int, vocabSkew: Double, sources: Int,
                         minTokens: Int, maxTokens: Int, boilerplates: Int,
                         boilerplateShare: Double, dupShare: Double, editRate: Double,
                         embShare: Double, embNoise: Double) {
  val dim: Int = 64
}

final case class DocRow(doc_id: Long, source: String, quality: Double, text: String,
                        embedding: Array[Double])

/** Pure per-document generator: every function of an index is
  * deterministic, so planted pairs and texts can be re-derived on the driver
  * for the output checks.
  */
final class Corpus(seed: Long, spec: DocSpec) extends Serializable {
  private val words = Words.vocab(seed, spec.vocab)
  private val zipf = new Zipf(spec.vocab, spec.vocabSkew)
  private val sourceZipf = new Zipf(spec.sources, 1.0)
  private val boilerplate: Array[Array[String]] = Array.tabulate(spec.boilerplates) { b =>
    val r = Rng.at(seed, 10, b)
    Array.fill(25)(words(r.nextInt(spec.vocab)))
  }

  private def tokensOf(j: Long): Array[String] = {
    val r = Rng.at(seed, 11, j)
    val n = spec.minTokens + r.nextInt(spec.maxTokens - spec.minTokens + 1)
    val toks = Array.fill(n)(words(zipf.sample(r)))
    if (r.nextDouble() < spec.boilerplateShare) {
      val at = r.nextInt(n)
      toks.take(at) ++ boilerplate(r.nextInt(spec.boilerplates)) ++ toks.drop(at)
    } else toks
  }

  def isDup(i: Long): Boolean = i > 0 && Rng.at(seed, 12, i).nextDouble() < spec.dupShare
  def isNeighbour(i: Long): Boolean = i > 0 && Rng.at(seed, 13, i).nextDouble() < spec.embShare

  /** The original a planted copy derives from: never itself planted. */
  private def origin(stream: Int, i: Long, planted: Long => Boolean): Long = {
    val r = Rng.at(seed, stream, i)
    var j = r.nextLong(spec.docs.toLong)
    while (j == i || planted(j)) j = r.nextLong(spec.docs.toLong)
    j
  }
  def dupOrigin(i: Long): Long = origin(14, i, isDup)
  def neighbourOrigin(i: Long): Long = origin(15, i, isNeighbour)

  def text(i: Long): String =
    if (!isDup(i)) tokensOf(i).mkString(" ")
    else {
      val r = Rng.at(seed, 16, i)
      tokensOf(dupOrigin(i)).map(t =>
        if (r.nextDouble() < spec.editRate) words(zipf.sample(r)) else t).mkString(" ")
    }

  private def unitGauss(j: Long): Array[Double] = {
    val r = Rng.at(seed, 17, j)
    val v = Array.fill(spec.dim)(r.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def embedding(i: Long): Array[Double] =
    if (!isNeighbour(i)) unitGauss(i)
    else {
      val base = unitGauss(neighbourOrigin(i))
      val noise = unitGauss(i)
      base.indices.map(k => base(k) + spec.embNoise * noise(k)).toArray
    }

  def row(i: Long): DocRow = {
    val r = Rng.at(seed, 18, i)
    DocRow(i, f"src-${sourceZipf.sample(r)}%02d", r.nextDouble(), text(i), embedding(i))
  }

  /** Planted (min id, max id) pairs: near-duplicate texts and near-neighbour embeddings. */
  def plantedTextPairs: Set[(Long, Long)] =
    (0L until spec.docs.toLong).filter(isDup).map { i =>
      val j = dupOrigin(i); (math.min(i, j), math.max(i, j)) }.toSet
  def plantedEmbeddingPairs: Set[(Long, Long)] =
    (0L until spec.docs.toLong).filter(isNeighbour).map { i =>
      val j = neighbourOrigin(i); (math.min(i, j), math.max(i, j)) }.toSet

  def generate(spark: SparkSession, slices: Int): DataFrame = {
    import spark.implicits._
    val self = this
    spark.range(0, spec.docs.toLong, 1, slices).as[Long]
      .mapPartitions(_.map(i => self.row(i))).toDF()
  }
}
