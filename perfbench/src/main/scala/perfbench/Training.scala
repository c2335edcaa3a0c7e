package perfbench

import graft.FeathrClient
import graft.model.{FeatureType, TensorCategory, Transformation, TypedKey, ValueType}
import graft.project.{AnchorFeature, DerivedFeature, FeatureConfig, FeatureProject,
  FeatureQuery, InputFeature}
import graft.registry.{LineageExporter, LineageLoader}
import graft.sources.{DataLocation, Source, TimeWindowParameters}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Point-in-time training-set builds: repeated `joinFeatures` over a
  * skewed event log, each on a fresh observation spine. Loads
  * FeatureConfig, registry and PointInTimeJoin; never touches the
  * incremental stores or the online store.
  */
final class Training extends Workload {
  import Training._
  private val events = 100000L
  private val keys = 4000
  private val days = 90
  private val spineRows = 10000L
  private val sampledPerBuild = 40

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val (st, setupTimes) = ctx.setupRepeated(3)(d => setup(ctx, d))(_ => ())
    val q = Seq(FeatureQuery(st.features, Seq("user_id")))
    def build(i: Int): (String, Double) = {
      val spinePath = s"${ctx.dir}/spine-$i"
      Main.writeParquet(spine(spark, ctx.seed, i, spineRows, keys, days), spinePath)
      val spineDf = spark.read.parquet(spinePath)
      val outPath = s"${ctx.dir}/train-$i"
      val (_, s) = ctx.timed {
        val df = ctx.span("PointInTimeJoin.run")(FeathrClient.joinFeatures(spark,
          st.project, spineDf, Some(("obs_ts", "native")), q))
        ctx.span("PointInTimeJoin.exec")(Main.writeParquet(df, outPath))
      }
      (outPath, s)
    }
    val (coldOut, coldS) = ctx.phase(0)(build(0))
    val outs = scala.collection.mutable.ArrayBuffer(coldOut)
    val steady = ctx.steadySteps(warmup = 1, n = 2) { i =>
      val (o, s) = build(i)
      outs += o
      s
    }.map(_._2)
    // correctness: every build has one row per spine row, and a seeded
    // sample of each regenerated spine matches a naive range join +
    // groupBy over the same events
    val c0 = System.nanoTime()
    val (checked, wrong) = check(spark, ctx.seed, st.eventsPath, outs.toSeq)
    val checkS = (System.nanoTime() - c0) / 1e9
    val spineShuffle = ctx.listener.map { l =>
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val ex = ctx.tracer.spans.filter(_.name == "PointInTimeJoin.exec")
      ex.map(s => l.counters(s).shuffleRecords).sum.toDouble /
        math.max(1L, ex.size * spineRows)
    }.getOrElse(0.0)
    System.err.println(f"[perfbench] setup ${setupTimes.map(t => f"$t%.2f").mkString(" ")} s, " +
      f"cold $coldS%.2f s, steps ${steady.map(t => f"$t%.2f").mkString(" ")} s, check $checkS%.2f s")
    Outcome(
      e2e = Map("setup_s" -> Stats.median(setupTimes), "cold_s" -> coldS,
        "step_s_p50" -> Stats.median(steady.toSeq),
        "items_per_s" -> steady.size * spineRows / steady.sum),
      ratios = Map("PointInTimeJoin.shuffle_records_per_row" -> spineShuffle),
      attempted = outs.size + checked, failed = wrong, checked = checked > 0)
  }

  private def setup(ctx: Ctx, dir: String): State = {
    val spark = ctx.spark
    val eventsPath = s"$dir/events.parquet"
    Main.writeParquet(eventLog(spark, ctx.seed, events, days, keys, 0.0), eventsPath)
    // the feature set travels as an exported feature-config file, is
    // reloaded, and resolved through the registry's lineage form
    val cfgPath = s"$dir/features.json"
    Files.write(Paths.get(cfgPath), FeatureConfig.toJson(project(eventsPath)).getBytes(UTF_8))
    val reloaded = ctx.span("FeatureConfig.fromJson")(
      FeatureConfig.fromJson(new String(Files.readAllBytes(Paths.get(cfgPath)), UTF_8)))
    val lineage = LineageExporter.toJson(reloaded)
    val (resolved, registry) = ctx.span("registry.load")(LineageLoader.load(lineage, "training"))
    val names = FeatureNames.map(n => registry.resolve(n).map(_.name)
      .getOrElse(throw new IllegalStateException(s"registry lost feature $n")))
    State(resolved, names, eventsPath)
  }

  /** Checks every build's output against its spine, regenerated from
    * the seed: the output has exactly `spineRows` rows, and each spine
    * row whose row_id hashes into the seeded sample appears once, with
    * the spine's key and timestamp and the naively recomputed features.
    * Returns (rows checked, rows wrong).
    */
  private def check(spark: SparkSession, seed: Long, eventsPath: String,
      outs: Seq[String]): (Long, Long) = {
    val sampled = pmod(xxhash64(col("row_id"), lit(seed)), lit(spineRows)) < sampledPerBuild
    val all = outs.zipWithIndex.map { case (p, b) =>
      spark.read.parquet(p).withColumn("build", lit(b))
    }.reduce(_ unionByName _)
    val rows = all.groupBy("build").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val miscounted = outs.indices.count { b =>
      val n = rows.getOrElse(b, 0L)
      if (n != spineRows) System.err.println(
        s"[perfbench] training: build $b wrote $n rows for a $spineRows-row spine")
      n != spineRows
    }
    val obs = outs.indices.map { b =>
      spine(spark, seed, b, spineRows, keys, days).where(sampled).withColumn("build", lit(b))
    }.reduce(_ unionByName _)
    val exp = naive(spark, eventsPath, obs).withColumn("in_spine", lit(true))
    val got = all.where(sampled).withColumn("in_output", lit(true))
    // full outer: a sampled spine row the output lacks, an output row
    // the spine lacks, and a duplicated output row are all wrong
    val cmp = exp.join(got, Seq("build", "row_id"), "full_outer")
    val ok = Seq(
        col("in_spine").isNotNull, col("in_output").isNotNull,
        col("user_id") <=> col("exp_user_id"), col("obs_ts") <=> col("exp_obs_ts"),
        approxEq("last_amount"), approxEq("amount_sum_1d"),
        approxEq("amount_avg_7d"), approxEq("amount_max_30d"),
        approxEq("events_count_7d"), approxEq("purchase_sum_30d"),
        approxEq("amount_count_1d"), approxEq("spend_per_event_7d"),
        approxEq("max_over_last_30d"), approxEq("obs_value_x10"),
        sort_array(col("categories_7d")) <=> col("exp_categories_7d"))
      .reduce(_ && _)
    val r = cmp.agg(count(lit(1)), count_distinct(col("build"), col("row_id")),
      coalesce(sum(when(ok, 0L).otherwise(1L)), lit(0L))).head()
    val (n, dup) = (r.getLong(1), r.getLong(0) - r.getLong(1))
    val wrong = r.getLong(2) + dup + miscounted
    if (wrong > 0) {
      System.err.println(s"[perfbench] training: $wrong wrong of $n sampled spine rows " +
        s"($dup duplicated, $miscounted builds miscounted)")
      cmp.where(!ok).show(5, truncate = false)
    }
    (n, wrong)
  }
}

object Training {
  final case class State(project: FeatureProject, features: Seq[String], eventsPath: String)

  val FeatureNames: Seq[String] = Seq("last_amount", "amount_sum_1d", "amount_avg_7d",
    "amount_max_30d", "events_count_7d", "purchase_sum_30d", "amount_count_1d",
    "categories_7d", "spend_per_event_7d", "max_over_last_30d", "obs_value_x10")

  private val eventSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("ts_us", LongType),
    StructField("amount", DoubleType), StructField("event_type", StringType),
    StructField("category", StringType), StructField("arrival_day", IntegerType)))

  /** The seeded event log: user_id, ts, amount, event_type, category,
    * arrival_day.
    */
  def eventLog(spark: SparkSession, seed: Long, total: Long, days: Int, keys: Int,
      lateFrac: Double): DataFrame = {
    val parts = spark.sparkContext.defaultParallelism
    val rdd = spark.sparkContext.range(0L, total, 1, parts).map { i =>
      val e = Gen.event(seed, i, total, days, keys, lateFrac)
      Row(e.userId, e.tsUs, e.amount, e.eventType, e.category, e.arrivalDay)
    }
    spark.createDataFrame(rdd, eventSchema)
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"), col("amount"),
        col("event_type"), col("category"), col("arrival_day"))
  }

  private val obsSchema = StructType(Seq(StructField("row_id", LongType),
    StructField("user_id", LongType), StructField("obs_ts_us", LongType),
    StructField("obs_value", DoubleType)))

  /** Observation spine `build`: observation times fall in the last 60
    * days, so every 30-day window lies inside the log.
    */
  def spine(spark: SparkSession, seed: Long, build: Int, rows: Long, keys: Int,
      days: Int): DataFrame = {
    val parts = spark.sparkContext.defaultParallelism
    val rdd = spark.sparkContext.range(0L, rows, 1, parts).map { j =>
      val o = Gen.obs(seed, build, j, rows, keys, days - 60, days)
      Row(o.rowId, o.userId, o.obsTsUs, o.obsValue)
    }
    spark.createDataFrame(rdd, obsSchema)
      .select(col("row_id"), col("user_id"), timestamp_micros(col("obs_ts_us")).as("obs_ts"),
        col("obs_value"))
  }

  private val userKey = TypedKey("user_id", ValueType.INT64)
  private val StringSet = FeatureType(TensorCategory.DENSE, Seq(ValueType.INT32), ValueType.STRING)

  /** One as-of anchor, six sliding-window aggregations (SUM, AVG, MAX
    * and COUNT over 1d, 7d and 30d, one filtered), one UNION, two
    * derived features and one passthrough.
    */
  def project(eventsPath: String): FeatureProject = {
    val p = FeatureProject("training")
    val src = Source("user_events", DataLocation.Hdfs(eventsPath),
      timeWindow = Some(TimeWindowParameters("ts", "native")))
    def f(name: String, t: Transformation, tpe: FeatureType = FeatureType.DOUBLE) =
      AnchorFeature(name, tpe, t, Seq(userKey))
    p.addAnchorGroup("user_events_features", src, Seq(
      f("last_amount", Transformation.Expr("amount")),
      f("amount_sum_1d", Transformation.windowAgg("amount", "SUM", "1d")),
      f("amount_avg_7d", Transformation.windowAgg("amount", "AVG", "7d")),
      f("amount_max_30d", Transformation.windowAgg("amount", "MAX", "30d")),
      f("events_count_7d", Transformation.windowAgg("amount", "COUNT", "7d"), FeatureType.INT64),
      f("purchase_sum_30d", Transformation.windowAgg("amount", "SUM", "30d")
        .copy(filter = Some("event_type = 'purchase'"))),
      f("amount_count_1d", Transformation.windowAgg("amount", "COUNT", "1d"), FeatureType.INT64),
      f("categories_7d", Transformation.windowAgg("category", "UNION", "7d"), StringSet)))
    p.addAnchorGroup("observation_context", Source.INPUT_CONTEXT, Seq(
      AnchorFeature("obs_value_x10", FeatureType.DOUBLE,
        Transformation.Expr("obs_value * 10"), Seq(TypedKey.DUMMY_KEY))))
    def in(n: String) = InputFeature(n, Seq(userKey))
    p.addDerived(DerivedFeature("spend_per_event_7d", FeatureType.DOUBLE,
      "amount_avg_7d * events_count_7d / (events_count_7d + 1)",
      Seq(in("amount_avg_7d"), in("events_count_7d")), Seq(userKey)))
    p.addDerived(DerivedFeature("max_over_last_30d", FeatureType.DOUBLE,
      "amount_max_30d - last_amount",
      Seq(in("amount_max_30d"), in("last_amount")), Seq(userKey)))
    p
  }

  /** A window without events yields a null feature, COUNT and UNION
    * included (the left-join feature-vector contract).
    */
  private def nullIfZero(c: org.apache.spark.sql.Column) = when(c > 0, c)

  /** Equal up to floating-point summation order: both null, or within
    * 1e-9 relative. Rounding both sides instead would flip values that
    * straddle a rounding half-point.
    */
  private def approxEq(c: String): org.apache.spark.sql.Column = {
    val (a, b) = (col(c).cast("double"), col(s"exp_$c").cast("double"))
    (a.isNull && b.isNull) ||
      coalesce(abs(a - b) <= greatest(abs(b), lit(1.0)) * 1e-9, lit(false))
  }

  /** The feature set recomputed by brute force: every event at or
    * before the observation joins, windows are `(obs_ts - w, obs_ts]`.
    */
  def naive(spark: SparkSession, eventsPath: String, obs: DataFrame): DataFrame = {
    val ev = spark.read.parquet(eventsPath)
      .select(col("user_id").as("e_user"), col("ts"), col("amount"), col("event_type"),
        col("category"))
    val j = obs.join(ev, col("user_id") === col("e_user") && col("ts") <= col("obs_ts"), "left")
    def within(days: Int) = col("ts") > col("obs_ts") - expr(s"INTERVAL $days DAYS")
    def w(days: Int, c: org.apache.spark.sql.Column) = when(within(days), c)
    val agg = j.groupBy("build", "row_id", "user_id", "obs_ts", "obs_value").agg(
      max_by(col("amount"), col("ts")).as("exp_last_amount"),
      sum(w(1, col("amount"))).as("exp_amount_sum_1d"),
      avg(w(7, col("amount"))).as("exp_amount_avg_7d"),
      max(w(30, col("amount"))).as("exp_amount_max_30d"),
      nullIfZero(count(w(7, col("amount")))).as("exp_events_count_7d"),
      sum(when(within(30) && col("event_type") === "purchase", col("amount")))
        .as("exp_purchase_sum_30d"),
      nullIfZero(count(w(1, col("amount")))).as("exp_amount_count_1d"),
      sort_array(collect_set(w(7, col("category")))).as("exp_categories_7d"))
      .withColumn("exp_categories_7d",
        when(size(col("exp_categories_7d")) > 0, col("exp_categories_7d")))
    agg
      .withColumn("exp_spend_per_event_7d", col("exp_amount_avg_7d") *
        col("exp_events_count_7d") / (col("exp_events_count_7d") + 1))
      .withColumn("exp_max_over_last_30d", col("exp_amount_max_30d") - col("exp_last_amount"))
      .withColumn("exp_obs_value_x10", col("obs_value") * 10)
      .withColumnRenamed("user_id", "exp_user_id")
      .withColumnRenamed("obs_ts", "exp_obs_ts")
      .drop("obs_value")
  }
}
