package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

final case class TaskRec(group: String, stageId: Int, result: Boolean, runMs: Long,
                         cpuNs: Long, gcMs: Long, shuffleBytes: Long, shuffleRecords: Long,
                         spillBytes: Long)
final case class JobRec(group: String, startMs: Long, endMs: Long)
final case class StageRec(group: String, stageId: Int, submitMs: Long, doneMs: Long)
final case class SpanRecords(tasks: Seq[TaskRec], jobs: Seq[JobRec], stages: Seq[StageRec])

/** Collects task, stage and job records of every Spark job whose job group
  * is a span's group (prefix `pb:`); everything else is ignored.
  */
final class SpanListener extends SparkListener {
  private val GroupKey = "spark.jobGroup.id"
  private val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val jobs = ArrayBuffer.empty[JobRec]
  private val stages = ArrayBuffer.empty[StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty(GroupKey)).orNull
    if (g != null && g.startsWith(Tracer.Prefix)) {
      jobGroup.put(e.jobId, (g, e.time))
      e.stageIds.foreach(stageGroup.put(_, g))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.remove(e.jobId)
    if (g != null) synchronized { jobs += JobRec(g._1, g._2, e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val g = stageGroup.get(info.stageId)
    if (g != null) for (s <- info.submissionTime; c <- info.completionTime)
      synchronized { stages += StageRec(g, info.stageId, s, c) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) synchronized {
      tasks += TaskRec(g, e.stageId, e.taskType == "ResultTask", m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Remove and return everything recorded for `group`. */
  def take(group: String): SpanRecords = synchronized {
    val (t, tRest) = tasks.partition(_.group == group)
    val (j, jRest) = jobs.partition(_.group == group)
    val (s, sRest) = stages.partition(_.group == group)
    tasks.clear(); tasks ++= tRest
    jobs.clear(); jobs ++= jRest
    stages.clear(); stages ++= sRest
    stageGroup.values().removeIf(_ == group)
    SpanRecords(t.toSeq, j.toSeq, s.toSeq)
  }
}

/** One recorded span: wall bounds in both clocks (nanoTime for durations,
  * epoch millis to line up with Spark's job and stage event times).
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
                      startMs: Long, endMs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** The eight per-span fields. */
final case class Fields(wallS: Double, taskCpuS: Double, gcS: Double, shuffleWriteMb: Double,
                        spillMb: Double, taskSkew: Double, driverS: Double, rowsOut: Double)

object Fields {
  val Names: Seq[(String, String)] = Seq("wall_s" -> "s", "task_cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "task_skew" -> "ratio",
    "driver_s" -> "s", "rows_out" -> "count")
}

/** Per-layer results of the traced operations: span fields and single
  * metrics, reported as the mean per traced call (task skew and singles as
  * the median).
  */
final class LayerStats {
  val spans = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Fields]]
  val singles = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

  def add(name: String, f: Fields): Unit = spans.getOrElseUpdate(name, ArrayBuffer.empty) += f
  def single(name: String, v: Double): Unit =
    singles.getOrElseUpdate(name, ArrayBuffer.empty) += v

  /** (metric name, value, unit) for each of the span's eight fields. */
  def spanMetrics(name: String): Seq[(String, Double, String)] = {
    val fs = spans.getOrElse(name, sys.error(s"layer span $name was never traced")).toSeq
    def mean(g: Fields => Double) = fs.map(g).sum / fs.size
    Seq(mean(_.wallS), mean(_.taskCpuS), mean(_.gcS), mean(_.shuffleWriteMb),
      mean(_.spillMb), Stats.median(fs.map(_.taskSkew)), mean(_.driverS), mean(_.rowsOut))
      .zip(Fields.Names).map { case (v, (field, unit)) => (s"$name.$field", v, unit) }
  }

  def singleMetric(name: String): Double =
    Stats.median(singles.getOrElse(name, sys.error(s"layer metric $name was never traced")).toSeq)
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Total length of the union of [start, end] intervals clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Spans around calls into the library's layers. A span sets its own Spark
  * job group for its duration, so the listener can attribute every job,
  * stage and task to the innermost open span. Spans stay in memory and are
  * written once, by [[Tracer.json]], when the run ends.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val listener = new SpanListener
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  val layers = new LayerStats

  def attach(): Unit = sc.addSparkListener(listener)
  def detach(): Unit = { PerfbenchBus.drain(sc); sc.removeSparkListener(listener) }

  def span[T](name: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setJobGroup(Tracer.group(id), name, interruptOnCancel = false)
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result =
      try body
      finally {
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p), name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    val s = Span(id, name, parent, t0, System.nanoTime(), m0, System.currentTimeMillis())
    spans += s
    (result, s)
  }

  /** Everything Spark reported for the jobs `s` launched itself. */
  def records(s: Span): SpanRecords = {
    PerfbenchBus.drain(sc)
    listener.take(Tracer.group(s.id))
  }

  /** Record closed span `s` as layer `name` with `rows` output rows. */
  def record(name: String, s: Span, rows: Long): SpanRecords = {
    val r = records(s)
    layers.add(name, Tracer.fields(s, r, rows))
    r
  }

  /** A layer call: span `name` around `body`, whose result `rows` counts. */
  def layer[T](name: String)(body: => T)(rows: T => Long): T = {
    val (r, s) = span(name)(body)
    record(name, s, rows(r))
    r
  }

  def single(name: String, v: Double): Unit = layers.single(name, v)

  /** All spans with their self time (duration minus the union of their
    * children's intervals), as a JSON array.
    */
  def json: String = {
    val children = spans.groupBy(_.parent)
    spans.sortBy(_.id).map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs / 1000L, c.endNs / 1000L))
      val selfS = s.wallS - Stats.unionMs(kids.toSeq, s.startNs / 1000L, s.endNs / 1000L) / 1e6
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS},"self_s":$selfS}"""
    }.mkString("[", ",\n", "]")
  }
}

object Tracer {
  val Prefix = "pb:"
  def group(id: Int): String = s"$Prefix$id"

  private def skew(tasks: Seq[TaskRec]): Double =
    if (tasks.isEmpty) 1.0
    else {
      // the span's heaviest stage: max over median task run time
      val heaviest = tasks.groupBy(_.stageId).values.maxBy(_.map(_.runMs).sum)
      val runs = heaviest.map(_.runMs.toDouble)
      runs.max / math.max(Stats.median(runs), 1.0)
    }

  private def fold(tasks: Seq[TaskRec], wallS: Double, driverS: Double, rows: Double): Fields =
    Fields(wallS, tasks.map(_.cpuNs).sum / 1e9, tasks.map(_.gcMs).sum / 1e3,
      tasks.map(_.shuffleBytes).sum / 1e6, tasks.map(_.spillBytes).sum / 1e6, skew(tasks),
      driverS, rows)

  /** Span fields; driver time is the span's wall minus the union of its
    * Spark jobs' intervals.
    */
  def fields(s: Span, r: SpanRecords, rows: Long): Fields = {
    val busy = Stats.unionMs(r.jobs.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs) / 1e3
    fold(r.tasks, s.wallS, math.max(0.0, s.wallS - busy), rows.toDouble)
  }

  /** A call split by stage type: its shuffle-map stages form the exchange
    * part, its result stages the rest. The exchange's wall is the union of
    * its stages' intervals and its driver time the lead-in before the first
    * job; the rest of the call's wall and driver time go to the result part.
    */
  def splitByStageType(s: Span, r: SpanRecords, resultRows: Long): (Fields, Fields) = {
    val (res, map) = r.tasks.partition(_.result)
    val mapStages = map.map(_.stageId).toSet
    val exWall = Stats.unionMs(r.stages.filter(st => mapStages(st.stageId))
      .map(st => (st.submitMs, st.doneMs)), s.startMs, s.endMs) / 1e3
    val firstJob = if (r.jobs.isEmpty) s.endMs else r.jobs.map(_.startMs).min
    val exDriver = math.max(0L, firstJob - s.startMs) / 1e3
    val busy = Stats.unionMs(r.jobs.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs) / 1e3
    (fold(map, exWall, exDriver, map.map(_.shuffleRecords).sum.toDouble),
      fold(res, math.max(0.0, s.wallS - exWall),
        math.max(0.0, s.wallS - busy - exDriver), resultRows.toDouble))
  }
}
