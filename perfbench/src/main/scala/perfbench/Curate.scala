package perfbench

import graft.operators.{CurationPipeline, CurationStage, IncrementalCuration}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LLM corpus curation: a bootstrap over a corpus with planted
  * duplicates and low-quality documents, a batch split export of the
  * curated snapshot, then incremental refreshes whose deltas duplicate
  * earlier documents. Loads CurationPipeline and IncrementalCuration
  * (with Dedup, NearDupIndex and TextAnalysis under them); bypasses
  * every feature-store layer.
  */
final class Curate extends Workload {
  import Curate._
  private val docs = 4000L
  private val refreshDocs = 500L
  private val vocabSize = 50000
  private val maxRefreshes = 60

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val (corpusPath, setupTimes) = ctx.setupRepeated(3) { d =>
      val p = s"$d/corpus"
      Main.writeParquet(corpus(spark, ctx.seed, 0L, docs, vocabSize), p)
      p
    }(_ => ())
    val root = s"${ctx.dir}/curation"
    var attempted = 0L
    var failed = 0L

    val (bootKept, coldS) = ctx.phase(0)(ctx.timed {
      val snap = ctx.span("IncrementalCuration.bootstrap")(
        IncrementalCuration.bootstrap(spark.read.parquet(corpusPath), Pipeline, root))
      ctx.span("CurationPipeline.run")(
        Main.writeParquet(SplitExport.run(snap), s"${ctx.dir}/split"))
      snap.count()
    })
    attempted += 1

    // refresh k adds the documents [docs + (k - 1) * refreshDocs, docs + k * refreshDocs)
    val steps = ctx.steadySteps(warmup = 1, n = 2, more = _ <= maxRefreshes) { k =>
      val deltaPath = s"${ctx.dir}/delta-$k"
      Main.writeParquet(corpus(spark, ctx.seed, docs + (k - 1) * refreshDocs,
        docs + k * refreshDocs, vocabSize), deltaPath)
      val delta = spark.read.parquet(deltaPath)
      attempted += 1
      ctx.timed(ctx.span("IncrementalCuration.refresh")(
        IncrementalCuration.refresh(delta, root, k.toLong)))._2
    }
    val steady = steps.map(_._2)
    val total = docs + steps.last._1 * refreshDocs

    // correctness: every planted duplicate and low-quality document is
    // dropped, every planted distinct document kept, and the split
    // assigns each kept bootstrap document exactly once
    val c0 = System.nanoTime()
    val expected = (0L until total).filter(id => Gen.kind(ctx.seed, id) == Gen.Kind.Clean).toSet
    val kept = IncrementalCuration.snapshot(spark, root).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val wrong = (expected -- kept).size + (kept -- expected).size
    if (wrong > 0) System.err.println(s"[perfbench] curate: distinct documents dropped: " +
      (expected -- kept).toSeq.sorted.take(10).mkString(",") + "; planted documents kept: " +
      (kept -- expected).toSeq.sorted.take(10).map(id => s"$id(kind ${Gen.kind(ctx.seed, id)}, " +
        s"base ${Gen.baseOf(ctx.seed, id)})").mkString(","))
    val splitRows = spark.read.parquet(s"${ctx.dir}/split").select("doc_id").collect().map(_.getLong(0))
    val bootExpected = expected.filter(_ < docs)
    val splitWrong = if (splitRows.length == splitRows.distinct.length &&
      splitRows.toSet == bootExpected && bootKept == bootExpected.size) 0 else 1
    attempted += total + 1
    failed += wrong + splitWrong
    System.err.println(f"[perfbench] setup ${setupTimes.map(t => f"$t%.2f").mkString(" ")} s, " +
      f"cold $coldS%.2f s, steps ${steady.map(t => f"$t%.2f").mkString(" ")} s, " +
      f"check ${(System.nanoTime() - c0) / 1e9}%.2f s")

    val shuffleRecords = ctx.listener.map { l =>
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val ss = ctx.tracer.spans.filter(s => s.name == "IncrementalCuration.bootstrap" ||
        s.name == "IncrementalCuration.refresh")
      val docsIn = ss.map(s => if (s.name.endsWith("bootstrap")) docs else refreshDocs).sum
      ss.map(s => l.counters(s).shuffleRecords).sum.toDouble / math.max(1L, docsIn)
    }.getOrElse(0.0)
    Outcome(
      e2e = Map("setup_s" -> Stats.median(setupTimes), "cold_s" -> coldS,
        "step_s_p50" -> Stats.median(steady.toSeq),
        "items_per_s" -> steady.size * refreshDocs / steady.sum),
      ratios = Map(
        "IncrementalCuration.shuffle_records_per_doc" -> shuffleRecords,
        "IncrementalCuration.kept_frac" -> kept.size.toDouble / total),
      attempted = attempted, failed = failed, checked = true)
  }
}

object Curate {
  /** quality → repetition → ordered near-dup drop, the stages an
    * incremental refresh can maintain.
    */
  val Pipeline: CurationPipeline = CurationPipeline("text", "doc_id", Seq(
    CurationStage.Quality(50, 100000, 2),
    CurationStage.Repetition(2, 0.2),
    CurationStage.NearDupDrop(0.8, ordered = true)))

  /** The terminal split, run as a batch export over the curated
    * snapshot (a split cannot be maintained incrementally).
    */
  val SplitExport: CurationPipeline = CurationPipeline("text", "doc_id", Seq(
    CurationStage.Split(Seq("train" -> 0.9, "valid" -> 0.1))))

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Documents with ids in [from, until). */
  def corpus(spark: SparkSession, seed: Long, from: Long, until: Long,
      vocabSize: Int): DataFrame = {
    val parts = spark.sparkContext.defaultParallelism
    val rdd = spark.sparkContext.range(from, until, 1, parts).mapPartitions { ids =>
      val vocab = Gen.vocabulary(vocabSize)
      ids.map { id => val d = Gen.doc(seed, id, vocab); Row(d.docId, d.text) }
    }
    spark.createDataFrame(rdd, schema)
  }
}
