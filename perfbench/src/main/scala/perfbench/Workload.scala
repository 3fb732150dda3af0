package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** What one benchmark run works with. `tiny` selects the self-check sizes. */
final case class Env(spark: SparkSession, seed: Long, work: String, cores: Int, tiny: Boolean)

/** One finished operation: the payload MB it moved, the traced-only layer
  * probes to run after it, and its output check (None = passed). Neither the
  * probes nor the check are timed.
  */
final case class Done(mb: Double, check: () => Option[String],
                      probes: () => Unit = () => ())

/** A workload: seeded inputs made in `setup`, then a closed loop of blocks
  * of operations. Samples of `latencyKind` feed the latency metrics and
  * samples of `throughputKind` the throughput metric. `prepare` builds an
  * operation's request before the clock starts; `run` is the timed call.
  */
trait Workload {
  type Op
  def latencyKind: String
  def throughputKind: String
  def blockKinds(block: Long): Seq[String]
  def setup(): Unit
  def prepare(kind: String, op: Long): Op
  def run(op: Op, tr: Option[Tracer]): Done
  def close(): Unit
}

object Workload {
  val Names: Seq[String] = Seq("backup", "restore", "curate")

  def apply(name: String, env: Env): Workload = name match {
    case "backup" => new BackupBench(env)
    case "restore" => new RestoreBench(env)
    case "curate" => new CurateBench(env)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** `body` as layer `name` when traced, plain otherwise. */
  def layer[T](tr: Option[Tracer], name: String)(body: => T)(rows: T => Long): T =
    tr match {
      case Some(t) => t.layer(name)(body)(rows)
      case None => body
    }

  /** Eagerly checkpoint `df`, counting its rows in the same pass. */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    val o = Observation()
    val m = df.observe(o, count(lit(1)).as("n")).localCheckpoint(true)
    (m, o.get("n").asInstanceOf[Long])
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Megabytes per second of `body` over `mb`, repeated until it has run
    * for at least `minS` seconds.
    */
  def rate(mb: Double, minS: Double)(body: => Unit): Double = {
    var n = 0
    val t0 = System.nanoTime()
    while (n == 0 || (System.nanoTime() - t0) / 1e9 < minS) { body; n += 1 }
    mb * n / ((System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
}
