package perfbench

import graft.FeathrClient
import graft.model.{FeatureType, TensorCategory, Transformation, TypedKey, ValueType}
import graft.operators.{EmbeddedRespServer, IncrementalMaterializer, Materializer,
  OutputSink, RespOnlineStore}
import graft.project.AnchorFeature

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import java.util.concurrent.atomic.AtomicReference

/** The production loop: daily deltas with late rows folded into the
  * incremental stores, snapshotted and published to a RESP online
  * sink and a parquet offline sink, with a closed-loop serving client
  * reading beside the refreshes and maintenance every few deltas.
  * Loads IncrementalMaterializer, Materializer, RespOnlineStore and
  * Spill; bypasses PointInTimeJoin.
  *
  * With `inPlace = false` each delta publishes a new online table
  * generation and readers switch to it once it is written, the
  * discipline `Publish` applies to file datasets; the generation
  * before the previous one is then dropped. With `inPlace = true`
  * every delta overwrites one table, so a key that has left every
  * window keeps whatever value it was last written.
  */
final class RefreshServe(inPlace: Boolean) extends Workload {
  import RefreshServe._
  private val events = 60000L
  private val keys = 4000
  private val days = 45
  private val historyDays = 35
  private val maintainEvery = 4
  private val sampledKeys = 64

  def run(ctx: Ctx): Outcome = {
    val (st, setupTimes) = ctx.setupRepeated(3)(d => setup(ctx, d))(_.server.stop())
    try measure(ctx, st, setupTimes) finally st.server.stop()
  }

  private def setup(ctx: Ctx, dir: String): RefreshServe.State = {
    val spark = ctx.spark
    val eventsPath = s"$dir/events"
    Training.eventLog(spark, ctx.seed, events, days, keys, LateFrac)
      .repartition(col("arrival_day"))
      .write.mode("overwrite").partitionBy("arrival_day").parquet(eventsPath)
    val server = new EmbeddedRespServer
    val root = s"$dir/store"
    val history = spark.read.parquet(eventsPath).where(col("arrival_day") < historyDays)
    // not spanned: the IncrementalMaterializer.refresh span is the
    // per-delta refresh, and a 60-day ingest would skew its per-call means
    IncrementalMaterializer.refresh(history.drop("arrival_day"), root, Features, KeyCols,
      "ts", Gen.DayUs, 0L)
    RefreshServe.State(server, dir, eventsPath, root)
  }

  private def measure(ctx: Ctx, st: RefreshServe.State, setupTimes: Seq[Double]): Outcome = {
    val spark = ctx.spark
    val store = new RespOnlineStore("127.0.0.1", st.server.port)
    def table(i: Int) = if (inPlace) "features" else s"features-g$i"
    // the table readers serve from: set once a publish is complete
    val live = new AtomicReference(OutputSink.Online(table(0), store))
    val lastDay = days + 3 // late rows of the final day arrive up to 3 days later
    var attempted = 0L
    var failed = 0L
    var tracedDeltaBytes = 0L
    var deltaRows = 0L
    var spillMb = 0.0
    val rng = Gen.rng(ctx.seed, 400, 0)

    def asOfUs(day: Int) = Gen.EpochUs + (day + 1).toLong * Gen.DayUs

    /** One delta made visible: refresh, snapshot, publish. */
    def cycle(i: Int): Double = {
      val day = historyDays + i
      val deltaPath = s"${st.eventsPath}/arrival_day=$day"
      if (ctx.isTracing) tracedDeltaBytes += Main.treeBytes(new File(deltaPath))
      val delta = spark.read.parquet(deltaPath)
      deltaRows += delta.count()
      val sink = OutputSink.Online(table(i), store)
      val (_, s) = ctx.timed {
        ctx.span("IncrementalMaterializer.refresh")(IncrementalMaterializer.refresh(
          delta, st.root, Features, KeyCols, "ts", Gen.DayUs, i + 1L))
        val snap = ctx.span("IncrementalMaterializer.snapshot")(IncrementalMaterializer.snapshot(
          spark, st.root, Features, KeyCols, "ts", Gen.DayUs, asOfUs(day)))
        ctx.span("Materializer.writeAll")(Materializer.writeAll(snap, KeyCols,
          Seq(sink, OutputSink.hdfs(s"${st.dir}/offline/day=$day"))))
        live.set(sink)
      }
      // a reader that resolved the previous generation may still be
      // reading it; the one before that is no longer read
      if (!inPlace && i >= 2) store.deleteAll(table(i - 2), store.scanKeys(table(i - 2)).iterator)
      attempted += 1
      spillMb = Main.treeBytes(new File(s"${ctx.dir}/spill")) / 1048576.0
      s
    }

    val client = new ServeClient(ctx, store, live, Gen.rng(ctx.seed, 401, 0), keys)
    def maintain(i: Int): Double = {
      val day = historyDays + i
      val t0 = System.nanoTime()
      ctx.span("IncrementalMaterializer.maintain")(IncrementalMaterializer.maintain(
        spark, st.root, Features, KeyCols, "ts", Gen.DayUs,
        IncrementalMaterializer.MaintenancePolicy(compactWhenVersionsExceed = 4,
          retainFromBucket = Some(asOfUs(day) / Gen.DayUs - RetainDays))))
      attempted += 1
      (System.nanoTime() - t0) / 1e9
    }

    val coldS = ctx.phase(0)(cycle(0))
    val maintainS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val rowsOf = scala.collection.mutable.Map.empty[Int, Long]
    client.start()
    // at least `maintainEvery` measured steps, so that every run
    // maintains once
    val steady = try ctx.steadySteps(warmup = 2, n = maintainEvery,
        more = i => historyDays + i <= lastDay) { i =>
      val before = deltaRows
      val s = cycle(i)
      rowsOf(i) = deltaRows - before
      if (i % maintainEvery == 0) maintainS += maintain(i)
      s
    } finally client.finish()
    attempted += client.attempted
    failed += client.failed
    val lastDelta = historyDays + steady.last._1

    // correctness: online read-back == snapshot == naive recompute over
    // every event ingested so far, on sampled keys
    val check0 = System.nanoTime()
    val sample = ((0L until 8L) ++ (0 until sampledKeys - 12).map(_ => Gen.skewedKey(rng, keys)) ++
      (0 until 4).map(_ => keys + rng.nextInt(keys).toLong)).distinct
    val c0 = st.server.commandCount.get()
    val onlineRaw = store.getAll(live.get.tableName, sample.map(_.toString))
    val commandsPerKey = (st.server.commandCount.get() - c0).toDouble / sample.size
    val online = onlineRaw.map { case (k, v) =>
      k.toLong -> FeatureNames.map(f => f -> v.flatMap(_.get(f)).map(parseWire)).toMap
    }.toMap
    val snapDf = IncrementalMaterializer.snapshot(spark, st.root, Features, KeyCols, "ts",
      Gen.DayUs, asOfUs(lastDelta)).where(col("user_id").isin(sample: _*))
    val snap = collectValues(snapDf)
    val naive = collectValues(naiveSnapshot(spark,
      spark.read.parquet(st.eventsPath).where(col("arrival_day") <= lastDelta),
      asOfUs(lastDelta)).where(col("user_id").isin(sample: _*)))
    val empty = FeatureNames.map(_ -> Option.empty[Any]).toMap
    val wrong = sample.count { k =>
      val (o, s, n) = (online(k), snap.getOrElse(k, empty), naive.getOrElse(k, empty))
      val ok = FeatureNames.forall(f => same(o(f), s(f)) && same(s(f), n(f)))
      if (!ok) System.err.println(s"[perfbench] refresh_serve key $k: online=$o snapshot=$s naive=$n")
      !ok
    }
    attempted += sample.size
    failed += wrong
    val checkS = (System.nanoTime() - check0) / 1e9

    val root = new File(st.root)
    val infos = IncrementalMaterializer.describe(spark, st.root, Features, Gen.DayUs)
    val ingested = Main.treeBytes(new File(st.eventsPath)) -
      (lastDelta + 1 to lastDay).map(d => Main.treeBytes(new File(s"${st.eventsPath}/arrival_day=$d"))).sum
    val refreshOut = ctx.listener.map { l =>
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val rs = ctx.tracer.spans.filter(_.name == "IncrementalMaterializer.refresh")
      rs.map(s => l.counters(s).outputMb).sum * 1048576.0
    }.getOrElse(0.0)
    System.err.println(f"[perfbench] setup ${setupTimes.map(t => f"$t%.2f").mkString(" ")} s, " +
      f"cold $coldS%.2f s, steps ${steady.map(t => f"${t._2}%.2f").mkString(" ")} s, check $checkS%.2f s, " +
      s"${client.serveMs.size} requests")
    Outcome(
      e2e = Map("setup_s" -> Stats.median(setupTimes), "cold_s" -> coldS,
        "step_s_p50" -> Stats.median(steady.map(_._2)),
        "items_per_s" -> steady.map(p => rowsOf(p._1)).sum / steady.map(_._2).sum),
      // per-layer ratios, reported by traced runs only
      ratios = if (!ctx.traced) Map.empty else Map(
        "IncrementalMaterializer.bytes_written_per_delta_byte" ->
          (if (tracedDeltaBytes == 0) 0.0 else refreshOut / tracedDeltaBytes),
        "IncrementalMaterializer.store_files" -> Main.treeFiles(root).toDouble,
        "IncrementalMaterializer.versions_max" ->
          infos.map(_._2.versions.size).maxOption.getOrElse(0).toDouble,
        "IncrementalMaterializer.store_bytes_per_input_byte" ->
          Main.treeBytes(root).toDouble / math.max(1L, ingested),
        "IncrementalMaterializer.maintain_s_max" -> maintainS.maxOption.getOrElse(0.0),
        "Materializer.readOnline.requests" -> client.serveMs.size.toDouble,
        "Materializer.readOnline.request_ms_p50" -> Stats.median(client.serveMs.toSeq),
        "Materializer.readOnline.request_ms_p90" -> {
          require(Stats.hasTail(client.serveMs.size, 90),
            s"p90 of ${client.serveMs.size} requests has fewer than ten beyond it")
          Stats.percentile(client.serveMs.toSeq, 90)
        },
        "RespOnlineStore.getAll.request_ms_p50" -> Stats.median(client.storeMs.toSeq),
        "RespOnlineStore.commands_per_key" -> commandsPerKey,
        "RespOnlineStore.hit_frac" -> client.storeHits.toDouble / math.max(1L, client.storeKeys),
        "Spill.live_mb" -> spillMb),
      attempted = attempted, failed = failed, checked = sample.nonEmpty)
  }
}

/** The closed-loop serving client: one thread issuing one request of
  * `keysPerRequest` skewed keys at a time, about 10% of them absent,
  * to the live table, beside the refreshes until stopped. On a traced
  * run, which reports its p90, it serves on past the stop until the p90
  * has ten requests beyond it, unless a request failed. Its counters
  * are read after [[finish]].
  */
final class ServeClient(ctx: Ctx, store: RespOnlineStore,
    live: AtomicReference[OutputSink.Online], rng: java.util.SplittableRandom, keys: Int) {
  import RefreshServe._
  private val keysPerRequest = 256
  val serveMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  val storeMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  var storeKeys = 0L
  var storeHits = 0L
  var attempted = 0L
  var failed = 0L
  private val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val thread = new Thread(() => {
    JobListener.tagThread(ctx.spark.sparkContext)
    while (!stop.get || (ctx.traced && !Stats.hasTail(serveMs.size, 90) && failed == 0))
      request()
  }, "serve-client")

  def start(): Unit = thread.start()
  def finish(): Unit = { stop.set(true); thread.join() }

  private def request(): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val batch = (0 until keysPerRequest).map { _ =>
      if (rng.nextDouble() < AbsentFrac) keys + rng.nextInt(keys).toLong
      else Gen.skewedKey(rng, keys)
    }
    attempted += 1
    val sink = live.get
    try {
      val t0 = System.nanoTime()
      val rows = ctx.span("Materializer.readOnline")(FeathrClient.getOnlineFeatures(
        batch.toDF("user_id"), KeyCols, sink, FeatureNames).collect())
      serveMs += (System.nanoTime() - t0) / 1e6
      if (rows.length != batch.distinct.size) failed += 1
      // the same batch read directly from the store: its latency
      // without Spark's job overhead
      val t1 = System.nanoTime()
      val got = ctx.span("RespOnlineStore.getAll")(
        store.getAll(sink.tableName, batch.map(_.toString)))
      storeMs += (System.nanoTime() - t1) / 1e6
      storeKeys += batch.size
      storeHits += got.count(_._2.isDefined)
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] serve request failed: $e")
    }
  }
}

object RefreshServe {
  final case class State(server: EmbeddedRespServer, dir: String, eventsPath: String,
      root: String)

  val LateFrac = 0.05
  val AbsentFrac = 0.10
  val RetainDays = 31
  val KeyCols: Seq[String] = Seq("user_id")

  private val userKey = TypedKey("user_id", ValueType.INT64)
  private def f(name: String, t: Transformation, tpe: FeatureType = FeatureType.DOUBLE) =
    AnchorFeature(name, tpe, t, Seq(userKey))

  val Features: Seq[AnchorFeature] = Seq(
    f("amount_sum_1d", Transformation.windowAgg("amount", "SUM", "1d")),
    f("amount_avg_7d", Transformation.windowAgg("amount", "AVG", "7d")),
    f("amount_max_30d", Transformation.windowAgg("amount", "MAX", "30d")),
    f("events_count_7d", Transformation.windowAgg("amount", "COUNT", "7d"), FeatureType.INT64),
    f("purchase_sum_30d", Transformation.windowAgg("amount", "SUM", "30d")
      .copy(filter = Some("event_type = 'purchase'"))),
    f("categories_7d", Transformation.windowAgg("category", "UNION", "7d"),
      FeatureType(TensorCategory.DENSE, Seq(ValueType.INT32), ValueType.STRING)))
  val FeatureNames: Seq[String] = Features.map(_.name)

  /** Serving's feature windows recomputed from raw events: window `w`
    * at `asOfUs` covers `[asOfUs - w, asOfUs)`.
    */
  def naiveSnapshot(spark: SparkSession, ev: DataFrame, asOfUs: Long): DataFrame = {
    val tsUs = unix_micros(col("ts"))
    def w(days: Int, c: org.apache.spark.sql.Column) =
      when(tsUs >= asOfUs - days * Gen.DayUs && tsUs < asOfUs, c)
    def nz(c: org.apache.spark.sql.Column) = when(c > 0, c)
    ev.groupBy("user_id").agg(
      sum(w(1, col("amount"))).as("amount_sum_1d"),
      avg(w(7, col("amount"))).as("amount_avg_7d"),
      max(w(30, col("amount"))).as("amount_max_30d"),
      nz(count(w(7, col("amount")))).as("events_count_7d"),
      sum(w(30, when(col("event_type") === "purchase", col("amount")))).as("purchase_sum_30d"),
      collect_set(w(7, col("category"))).as("categories_7d"))
      .withColumn("categories_7d", when(size(col("categories_7d")) > 0, col("categories_7d")))
  }

  /** key → feature → value, arrays as sets, numbers as doubles. */
  def collectValues(df: DataFrame): Map[Long, Map[String, Option[Any]]] =
    df.select((("user_id" +: FeatureNames).map(col)): _*).collect().map { r =>
      r.getLong(0) -> FeatureNames.zipWithIndex.map { case (f, i) =>
        f -> Option(r.get(i + 1)).map(normalize)
      }.toMap
    }.toMap

  private def normalize(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.map(_.toString).toSet
    case n: java.lang.Number => n.doubleValue
    case other => other.toString
  }

  /** A value as the online store holds it: the writer's `String.valueOf`. */
  def parseWire(s: String): Any =
    if (s.contains("(") && s.endsWith(")"))
      s.substring(s.indexOf('(') + 1, s.length - 1).split(", ").filter(_.nonEmpty).toSet
    else s.toDoubleOption.getOrElse(s)

  def same(a: Option[Any], b: Option[Any]): Boolean = (a, b) match {
    case (None, None) => true
    case (Some(x: Double), Some(y: Double)) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
    case (Some(x), Some(y)) => x == y
    case _ => false
  }
}
