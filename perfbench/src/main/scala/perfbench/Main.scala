package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Benchmark harness. perfbench/run.py builds the classes and launches it:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out DIR
  *        --t0-ms EPOCH_MS --commit ID [--tiny]
  *
  * The last stdout line is the result object. With `--trace 0` it carries
  * the end-to-end metrics, with `--trace 1` the per-layer ones.
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "cpu_s_per_op" -> "s",
    "throughput_mb_s" -> "MB/s", "latency_p50_s" -> "s")

  val Spans: Seq[String] = Seq("pipelines.backup.exchange", "pipelines.backup.write",
    "pipelines.restore", "sinks.produce", "remap.reset_plan", "dedup.minhash",
    "dedup.embedding", "dedup.clusters", "dedup.trim_spans", "text.lm_train",
    "text.lm_score", "text.mix")

  val Singles: Seq[(String, String)] = Seq("catalog.save_s" -> "s", "catalog.prune_s" -> "s",
    "catalog.segments_read_ratio" -> "ratio", "pipelines.restore.window_yield" -> "ratio",
    "codec.encode_mb_s" -> "MB/s", "codec.decode_mb_s" -> "MB/s", "codec.zstd_ratio" -> "ratio",
    "dedup.clusters.jobs" -> "count", "dedup.pair_recall" -> "ratio")

  private val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String, t0Ms: Long, commit: String, tiny: Boolean)

  final case class Sample(kind: String, wallS: Double, cpuS: Double, mb: Double,
                          traced: Boolean, block: Long, ok: Boolean)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val a = Args(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", get("--work"), get("--out"), get("--t0-ms").toLong,
      kv.getOrElse("--commit", "unknown"), argv.contains("--tiny"))
    require(Workload.Names.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be positive")
    a
  }

  private val os = ManagementFactory.getPlatformMXBean(
    classOf[com.sun.management.OperatingSystemMXBean])
  private def cpuS: Double = os.getProcessCpuTime / 1e9

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    // the stamp's disk probe runs before Spark dirties the page cache; its
    // time is left out of set-up, so a slow disk does not inflate setup_s
    val t0 = System.nanoTime()
    val stamp = Stamp(args, cores)
    val stampS = (System.nanoTime() - t0) / 1e9
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${args.work}/spark")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try runBench(spark, args, cores, stamp, stampS)
    finally spark.stop()
  }

  private def runBench(spark: SparkSession, args: Args, cores: Int, stamp: String,
                       stampS: Double): Unit = {
    val env = Env(spark, args.seed, args.work, cores, args.tiny)
    val sessionS = (System.currentTimeMillis() - args.t0Ms) / 1e3 - stampS
    val wl = Workload(args.workload, env)
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val samples = ArrayBuffer.empty[Sample]
    var failed = 0
    var attempted = 0
    var op = 0L

    def runOp(w: Workload, kind: String, block: Long, tr: Option[Tracer]): Sample = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      // traced, the operation is the root span of its layer spans; its self
      // time is the work between layer calls
      def call(p: w.Op): Done = tr match {
        case None => w.run(p, tr)
        case Some(t) =>
          val (d, s) = t.span(s"op.$kind")(w.run(p, tr))
          t.records(s)
          d
      }
      val prepared = try Right(w.prepare(kind, op)) catch { case e: Exception => Left(e) }
      val c0 = cpuS
      val t0 = System.nanoTime()
      val done = prepared.flatMap(p => try Right(call(p)) catch { case e: Exception => Left(e) })
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = cpuS - c0
      val problem = done match {
        case Left(e) => Some(s"$kind op $op threw $e")
        case Right(d) =>
          try { d.probes(); d.check() }
          catch { case e: Exception => Some(s"$kind op $op check threw $e") }
      }
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id)) rdd.unpersist(blocking = true)
      }
      problem.foreach(p => System.err.println(s"FAILED: $p"))
      attempted += 1
      if (problem.isDefined) failed += 1
      op += 1
      Sample(kind, wall, cpu, done.map(_.mb).getOrElse(0.0), tr.isDefined, block,
        problem.isEmpty)
    }

    def runBlock(w: Workload, block: Long, tr: Option[Tracer]): Seq[Sample] = {
      tr.foreach(_.attach())
      try w.blockKinds(block).map(k => runOp(w, k, block, tr))
      finally tr.foreach(_.detach())
    }

    // set-up: JVM and session start, input generation (and the restore
    // workload's backup) repeated for a steadier median, then one untimed
    // warm-up block
    val genS = (1 to (if (args.tiny) 1 else SetupReps)).map(_ => Workload.timed(wl.setup()))
    val warmS = Workload.timed(runBlock(wl, -1L, None))
    val setupS = sessionS + Stats.median(genS) + warmS

    val deadline = System.nanoTime() + args.seconds * 1000000000L
    var block = 0L
    while (System.nanoTime() < deadline || block < (if (args.trace) 2 else 1)) {
      samples ++= runBlock(wl, block, tracer.filter(_ => block % 2 == 1))
      block += 1
    }

    // the traced run also reports the layers this workload does not reach,
    // from one traced block, after one untraced warm-up block, of each other
    // workload: the gated workloads at self-check size, and curate, whose
    // layers no gated run reaches, at its normal size
    tracer.foreach { t =>
      Workload.Names.filter(_ != args.workload).foreach { name =>
        val probe = Workload(name, env.copy(tiny = args.tiny || name != "curate",
          work = s"${args.work}/probe-$name"))
        probe.setup()
        runBlock(probe, -1L, None)
        runBlock(probe, 0L, Some(t))
        probe.close()
      }
    }
    wl.close()

    val good = samples.filter(_.ok)
    val lat = good.filter(s => s.kind == wl.latencyKind && !s.traced).map(_.wallS).toSeq
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None =>
        val thr = good.filter(_.kind == wl.throughputKind)
        Seq(setupS, good.map(_.cpuS).sum / good.size, thr.map(_.mb).sum / thr.map(_.wallS).sum,
          Stats.median(lat))
          .zip(EndToEnd).map { case (v, (n, u)) => (n, v, u) }
      case Some(t) =>
        val blockWall = samples.groupBy(_.block).values.toSeq.map(b => (b.head.traced, b.map(_.wallS).sum))
        def mean(xs: Seq[Double]) = xs.sum / xs.size
        val overhead = mean(blockWall.filter(_._1).map(_._2)) /
          mean(blockWall.filterNot(_._1).map(_._2)) - 1.0
        Spans.flatMap(t.layers.spanMetrics) ++
          Singles.map { case (n, u) => (n, t.layers.singleMetric(n), u) } :+
          (("tracing.overhead_frac", overhead, "ratio"))
    }
    metrics.foreach { case (n, v, _) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is not a finite number: $v") }

    val opWalls = samples.groupBy(_.kind).map { case (k, s) =>
      s""""$k":${s.map(x => math.rint(x.wallS * 1e3) / 1e3).mkString("[", ",", "]")}""" }
    println(s"""{"stamp":$stamp}""")
    println(s"""{"info":{"error_rate":${failed.toDouble / attempted},"op_walls_s":{${opWalls.mkString(",")}},""" +
      s""""session_start_s":$sessionS,"generate_s":${genS.mkString("[", ",", "]")},""" +
      s""""warmup_s":$warmS,"blocks":$block,""" +
      // a p90 needs ten samples beyond it to be a gated metric; shown for reference
      s""""latency_p90_s":${if (lat.isEmpty) "null" else Stats.percentile(lat, 0.9).toString}}}""")
    tracer.foreach { t =>
      val f = java.nio.file.Paths.get(args.out, s"trace-${args.workload}-seed${args.seed}.json")
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.write(f, s"""{"stamp":$stamp,"spans":${t.json}}\n"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val body = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${body.mkString(",")}}}""")
  }
}

/** The run stamp: enough to tell a throttled or misplaced run afterwards. */
object Stamp {

  /** Sequential write throughput of the work directory's disk: 8 MiB writes
    * and one fsync, like `graft.Bench.diskWriteMbPerSec`, over 64 MiB.
    */
  def diskWriteMbPerSec(dir: String): Double = {
    val f = java.nio.file.Paths.get(dir, "disk-probe.bin")
    val buf = new Array[Byte](8 << 20)
    java.util.Arrays.fill(buf, 0x5a.toByte)
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    val t0 = System.nanoTime()
    try {
      (0 until 8).foreach(_ => ch.write(java.nio.ByteBuffer.wrap(buf)))
      ch.force(true)
    } finally ch.close()
    val mbS = 64.0 / ((System.nanoTime() - t0) / 1e9)
    java.nio.file.Files.delete(f)
    mbS
  }

  def apply(a: Main.Args, cores: Int): String = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(a.work))
    val fs = java.nio.file.Files.getFileStore(java.nio.file.Paths.get(a.work)).`type`()
    def js(s: String) = graft.util.Json.escape(s)
    s"""{"workload":${js(a.workload)},"seed":${a.seed},"seconds":${a.seconds},""" +
      s""""trace":${a.trace},"tiny":${a.tiny},"commit":${js(a.commit)},""" +
      s""""nproc":$cores,"spark_cores":$cores,""" +
      s""""xmx_mb":${Runtime.getRuntime.maxMemory() / (1 << 20)},""" +
      s""""disk_write_mb_s":${diskWriteMbPerSec(a.work)},""" +
      s""""backup_roots":${js(a.work)},"spark_local_dir":${js(a.work + "/spark")},""" +
      s""""work_fs":${js(fs)}}"""
  }
}
