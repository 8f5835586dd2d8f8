package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session: one per suite (lazy), UTC, small shuffle width. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = localSession(4)

  val sf: String = "/root/testdata/sf0.001"

  def q(name: String): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, sf)

  /** Spark jobs `body` launches from this thread (job group filter, so a
    * job from any other thread is not counted).
    */
  def jobsLaunchedBy(body: => Unit): Int = {
    val group = s"graft-spec-${System.nanoTime()}"
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "graft spec")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.graftspec.Bus.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  /** A fresh copy of the fixture: every per-input-dir memo misses on it. */
  def freshInput(): String = {
    val dst = java.nio.file.Files.createTempDirectory("graft_spec_in")
    val src = java.nio.file.Paths.get(sf)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach(p => if (p != src) java.nio.file.Files.copy(p, dst.resolve(src.relativize(p))))
    finally walk.close()
    dst.toString
  }

  /** Asserts that `names` give the same SHA-256 of sorted rows when 4
    * `newSession()`s run them at once (each from a different offset of the
    * list) as when one session runs them in turn, each on its own fresh
    * copy of the fixture.
    */
  def assertConcurrentMatchesSequential(names: Seq[String]): Unit = {
    def digest(s: SparkSession, d: String, name: String): String = {
      val rows = SparkEntry.queries(name)(s, d).collect().map(_.toString).sorted
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(rows.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val seqIn = freshInput()
    val expected = names.map(n => n -> digest(spark, seqIn, n)).toMap
    val concIn = freshInput()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val runs = (0 until 4).map { c =>
        pool.submit(() => {
          val s = spark.newSession()
          start.await()
          (names.drop(c) ++ names.take(c)).map(n => n -> digest(s, concIn, n))
        })
      }
      start.countDown()
      for (run <- runs; (n, h) <- run.get(600, TimeUnit.SECONDS))
        assert(h === expected(n), n)
    } finally pool.shutdownNow()
  }
}
