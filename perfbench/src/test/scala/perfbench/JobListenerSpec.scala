package perfbench

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class JobListenerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def now(): Long = { Thread.sleep(5); System.currentTimeMillis() }
  private def me = Thread.currentThread.getName

  test("a span counts the jobs that started inside it and their tasks") {
    val sc = spark.sparkContext
    val l = new JobListener
    sc.addSparkListener(l)
    JobListener.tagThread(sc)
    try {
      sc.parallelize(1 to 100, 3).count() // before the span
      val from = now()
      sc.parallelize(1 to 100, 2).count()
      val until = now()
      sc.parallelize(1 to 100, 5).count() // after the span
      BenchBus.drain(sc)
      val c = l.counters(from, until, me)
      assert(c.jobs == 1)
      assert(c.tasks == 2)
      assert(c.driverGapS >= 0 && c.driverGapS <= (until - from) / 1000.0)
      assert(l.counters(until + 1000000, until + 2000000, me).jobs == 0)
    } finally sc.removeSparkListener(l)
  }

  test("a job that started before the span is not counted, even while it runs") {
    val sc = spark.sparkContext
    val l = new JobListener
    sc.addSparkListener(l)
    JobListener.tagThread(sc)
    try {
      val slow = sc.parallelize(1 to 2, 1).map { x => Thread.sleep(1500); x }.countAsync()
      val deadline = System.currentTimeMillis() + 10000
      while (sc.statusTracker.getActiveJobIds().isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(sc.statusTracker.getActiveJobIds().nonEmpty)
      val from = now()
      sc.parallelize(1 to 10, 2).count()
      val until = now()
      slow.get()
      BenchBus.drain(sc)
      val c = l.counters(from, until, me)
      assert(c.jobs == 1)
      assert(c.tasks == 2)
    } finally sc.removeSparkListener(l)
  }

  test("a job another thread starts inside the span is not counted") {
    val sc = spark.sparkContext
    val l = new JobListener
    sc.addSparkListener(l)
    JobListener.tagThread(sc)
    try {
      val from = now()
      val other = new Thread(() => {
        JobListener.tagThread(sc)
        sc.parallelize(1 to 10, 3).count()
        ()
      }, "other-client")
      other.start()
      other.join()
      sc.parallelize(1 to 10, 2).count()
      val until = now()
      BenchBus.drain(sc)
      assert(l.counters(from, until, me).tasks == 2)
      assert(l.counters(from, until, "other-client").tasks == 3)
    } finally sc.removeSparkListener(l)
  }
}
