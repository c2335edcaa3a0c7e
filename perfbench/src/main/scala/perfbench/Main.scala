package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** What one workload run measured. `e2e` holds the end-to-end metrics,
  * `ratios` the workload's per-layer ratios and counts. `attempted`
  * counts operations and checked outputs; `failed` those that threw or
  * read back wrong.
  */
final case class Outcome(e2e: Map[String, Double], ratios: Map[String, Double],
    attempted: Long, failed: Long, checked: Boolean)

/** Shared state of one run: the session, the run directory, the
  * tracer and, on a traced run, the benchmark's own listener.
  */
final class Ctx(val spark: SparkSession, val dir: String, val seed: Long,
    val seconds: Double, val traced: Boolean) {
  val tracer = new Tracer(traced)
  val listener: Option[JobListener] = if (traced) Some(new JobListener) else None
  @volatile private var tracing = false
  JobListener.tagThread(spark.sparkContext)
  /** Step wall times (s) split by whether the step was traced. */
  val tracedSteps = scala.collection.mutable.ArrayBuffer.empty[Double]
  val untracedSteps = scala.collection.mutable.ArrayBuffer.empty[Double]

  def isTracing: Boolean = tracing

  /** A span around a call into a layer; recorded only while tracing. */
  def span[A](name: String)(body: => A): A =
    if (tracing) tracer.span(name)(body) else body

  private def setTracing(on: Boolean): Unit = if (traced && on != tracing) {
    if (on) spark.sparkContext.addSparkListener(listener.get)
    else {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener.get)
    }
    tracing = on
  }

  /** Runs `body` traced (always on a traced run). */
  def traceAll[A](body: => A): A = { setTracing(true); try body finally setTracing(false) }

  /** Runs phase `i` of a workload: phase 0 is its cold step, which
    * also warms the JVM and Spark for the steady steps from phase 1 on.
    * On a traced run, even phases are traced and odd ones are not, so
    * that the same run measures the tracing overhead; untraced runs
    * never trace.
    */
  def phase[A](i: Int)(body: => A): A = {
    setTracing(traced && i % 2 == 0)
    try body finally setTracing(false)
  }
  private var measuring = false

  /** Times `body` in seconds. Measured steady steps also file the time
    * by tracing state, for the overhead estimate.
    */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val out = body
    val s = (System.nanoTime() - t0) / 1e9
    if (traced && measuring) (if (tracing) tracedSteps else untracedSteps) += s
    (out, s)
  }

  /** The steady steps of a run, from phase [[Ctx.FirstSteadyPhase]]:
    * `warmup` steps that finish warming the JVM and are not reported,
    * then measured steps until `seconds` have passed since the warm-up
    * and at least `n` were taken, while `more(phase)` holds. A traced
    * run measures one step more, so that the overhead estimate has a
    * traced and an untraced one. `step(phase)` runs one step and
    * returns its seconds. Returns (phase, seconds) of every measured
    * step.
    */
  def steadySteps(warmup: Int, n: Int, more: Int => Boolean = _ => true)(
      step: Int => Double): Seq[(Int, Double)] = {
    var i = Ctx.FirstSteadyPhase
    while (i < Ctx.FirstSteadyPhase + warmup && more(i)) { phase(i)(step(i)); i += 1 }
    val first = i
    val min = if (traced) n + 1 else n
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val t0 = System.nanoTime()
    measuring = true
    try {
      while (more(i) && (i < first + min || (System.nanoTime() - t0) / 1e9 < seconds)) {
        out += i -> phase(i)(step(i))
        i += 1
      }
    } finally measuring = false
    out.toSeq
  }

  /** Sets a workload up `reps` times, each in a fresh directory, and
    * keeps the last. Returns the state and every set-up's seconds.
    */
  def setupRepeated[S](reps: Int)(make: String => S)(release: S => Unit): (S, Seq[Double]) = {
    var last: Option[S] = None
    val times = (0 until reps).map { i =>
      last.foreach(release)
      val d = s"$dir/setup-$i"
      if (i > 0) Main.deleteTree(new File(s"$dir/setup-${i - 1}"))
      val t0 = System.nanoTime()
      last = Some(traceAll(make(d)))
      (System.nanoTime() - t0) / 1e9
    }
    (last.get, times)
  }
}

object Ctx {
  val FirstSteadyPhase = 1
}

/** A workload: set-up (timed, repeated) then a measured window. */
trait Workload {
  def run(ctx: Ctx): Outcome
}

object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "training" -> (() => new Training()),
    "refresh_serve" -> (() => new RefreshServe(inPlace = false)),
    "refresh_serve_inplace" -> (() => new RefreshServe(inPlace = true)),
    "curate" -> (() => new Curate()))

  /** The spans the traced run reports, each a call into one layer. */
  val SpanNames: Seq[String] = Seq(
    "FeatureConfig.fromJson", "registry.load",
    "PointInTimeJoin.run", "PointInTimeJoin.exec",
    "IncrementalMaterializer.refresh", "IncrementalMaterializer.snapshot",
    "IncrementalMaterializer.maintain",
    "Materializer.writeAll", "Materializer.readOnline",
    "RespOnlineStore.getAll",
    "IncrementalCuration.bootstrap", "IncrementalCuration.refresh",
    "CurationPipeline.run")

  /** Per-layer ratios and counts the workloads compute themselves. */
  val RatioNames: Seq[(String, String)] = Seq(
    "PointInTimeJoin.shuffle_records_per_row" -> "ratio",
    "IncrementalMaterializer.bytes_written_per_delta_byte" -> "ratio",
    "IncrementalMaterializer.store_files" -> "count",
    "IncrementalMaterializer.versions_max" -> "count",
    "IncrementalMaterializer.store_bytes_per_input_byte" -> "ratio",
    "IncrementalMaterializer.maintain_s_max" -> "s",
    "Materializer.readOnline.requests" -> "count",
    "Materializer.readOnline.request_ms_p50" -> "ms",
    "Materializer.readOnline.request_ms_p90" -> "ms",
    "RespOnlineStore.getAll.request_ms_p50" -> "ms",
    "RespOnlineStore.commands_per_key" -> "ratio",
    "RespOnlineStore.hit_frac" -> "ratio",
    "Spill.live_mb" -> "MB",
    "IncrementalCuration.shuffle_records_per_doc" -> "ratio",
    "IncrementalCuration.kept_frac" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, dir: String)

  def parseArgs(a: Seq[String]): Args = {
    val m = a.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val t = get("trace")
    require(t == "0" || t == "1", s"--trace must be 0 or 1: $t")
    val w = get("workload")
    require(Workloads.contains(w), s"unknown workload $w (${Workloads.keys.mkString(", ")})")
    Args(w, get("seed").toLong, get("seconds").toDouble, t == "1", get("dir"))
  }

  def session(cpus: Int, dir: String): SparkSession = {
    // graft.Bench's session confs; the remaining settings only keep
    // every file the run writes inside its own directory
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.graft.spillDir", s"$dir/spill")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(treeBytes).sum
    else f.length

  def treeFiles(f: File): Long =
    if (!f.exists) 0L
    else if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(treeFiles).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L else 1L

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric is not finite: $v")
    else java.math.BigDecimal.valueOf(v).toPlainString

  def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  /** Per-layer metrics from the recorded spans: per call means of every
    * counter, over the spans of each name.
    */
  def layerMetrics(ctx: Ctx): Seq[(String, Double, String)] = {
    val spans = ctx.tracer.spans
    ctx.listener.foreach(_ => org.apache.spark.BenchBus.drain(ctx.spark.sparkContext))
    SpanNames.flatMap { name =>
      val ss = spans.filter(_.name == name)
      val cs = ss.map(s => ctx.listener.get.counters(s))
      val n = math.max(1, ss.size).toDouble
      def mean(f: Counters => Double) = cs.map(f).sum / n
      Seq(
        ("_s", ss.map(_.durMs).sum / 1000.0 / n, "s"),
        (".self_s", ss.map(s => Trace.selfMs(s, spans)).sum / 1000.0 / n, "s"),
        (".calls", ss.size.toDouble, "count"),
        (".jobs", mean(_.jobs.toDouble), "count"),
        (".tasks", mean(_.tasks.toDouble), "count"),
        (".task_busy_s", mean(_.taskBusyS), "s"),
        (".task_p50_ms", if (cs.isEmpty) 0.0 else Stats.median(cs.map(_.taskP50Ms)), "ms"),
        (".task_max_ms", if (cs.isEmpty) 0.0 else cs.map(_.taskMaxMs).max, "ms"),
        (".shuffle_write_mb", mean(_.shuffleWriteMb), "MB"),
        (".shuffle_read_mb", mean(_.shuffleReadMb), "MB"),
        (".spill_mb", mean(_.spillMb), "MB"),
        (".input_mb", mean(_.inputMb), "MB"),
        (".output_mb", mean(_.outputMb), "MB"),
        (".driver_gap_s", mean(_.driverGapS), "s"),
      ).map { case (suffix, v, u) => (name + suffix, v, u) }
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv.toSeq)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors
    new File(a.dir).mkdirs()
    val spark = session(cpus, a.dir)
    val bootS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val ctx = new Ctx(spark, a.dir, a.seed, a.seconds, a.trace)
    val w0 = System.nanoTime()
    val out = Workloads(a.workload)().run(ctx)
    val workS = (System.nanoTime() - w0) / 1e9
    // driver heap the run retains: what survives a full collection at
    // the end, with the workload's state still reachable from the
    // session. Spark frees broadcast and shuffle state from a cleaner
    // thread once their handles are collected, so collect a few times
    // and give the cleaner its turn in between.
    spark.sharedState.cacheManager.clearCache()
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
    System.err.println(f"[perfbench] boot $bootS%.2f s, workload $workS%.2f s, " +
      f"exit ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.2f s after JVM start")
    val e2e = Seq(
      ("setup_s", bootS + out.e2e("setup_s"), "s"),
      ("cold_s", out.e2e("cold_s"), "s"),
      ("step_s_p50", out.e2e("step_s_p50"), "s"),
      ("items_per_s", out.e2e("items_per_s"), "1/s"),
      ("heap_retained_mb", heapMb, "MB"))
    val layers = if (!a.trace) Nil else {
      val all = layerMetrics(ctx)
      require(ctx.tracedSteps.nonEmpty && ctx.untracedSteps.nonEmpty,
        "the trace overhead needs traced and untraced steady steps")
      val overhead = Stats.median(ctx.tracedSteps.toSeq) / Stats.median(ctx.untracedSteps.toSeq) - 1
      require(out.ratios.keySet.subsetOf(RatioNames.map(_._1).toSet),
        s"undeclared ratios: ${out.ratios.keySet -- RatioNames.map(_._1)}")
      // a workload that bypasses a layer reports its ratios as 0
      val ratios = RatioNames.map { case (k, u) => (k, out.ratios.getOrElse(k, 0.0), u) }
      val full = all ++ ratios :+ (("trace.overhead_frac", overhead, "ratio"))
      writeTrace(ctx, a, full)
      full
    }
    spark.stop()
    val meta = s"""{"meta":{"workload":"${a.workload}","seed":${a.seed},"seconds":${num(a.seconds)},""" +
      s""""traced":${a.trace},"cpus":$cpus,"jvm":"${System.getProperty("java.vm.version")}",""" +
      s""""spark":"${spark.version}","boot_s":${num(bootS)}}}"""
    println(meta)
    val correct = out.checked && out.failed == 0
    println(s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":${metricsJson(if (a.trace) layers else e2e)}}""")
    Console.out.flush()
  }

  /** The full trace of a traced run: every span and every counter. */
  private def writeTrace(ctx: Ctx, a: Args, metrics: Seq[(String, Double, String)]): Unit = {
    val spans = ctx.tracer.spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"thread":"${s.thread}","start_ms":${s.startMs},"end_ms":${s.endMs},"self_ms":${Trace.selfMs(s, ctx.tracer.spans)}}""")
      .mkString("[", ",", "]")
    val body = s"""{"workload":"${a.workload}","seed":${a.seed},"metrics":${metricsJson(metrics)},"spans":$spans}"""
    val path = Paths.get(sys.props.getOrElse("perfbench.traceDir", a.dir), s"trace-${a.workload}-${a.seed}.json")
    Files.createDirectories(path.getParent)
    Files.write(path, (body + "\n").getBytes(UTF_8))
    System.err.println(s"[perfbench] trace written to $path")
  }
}
