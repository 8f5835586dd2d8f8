package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

/** Pins the staging primitive's contract (Scratch.stage / Scratch.PerDir):
  * one build per key under concurrency, independent keys, no entry on a
  * failed build, nested builds across families, and session-free values
  * that any client session can read back and join.
  */
class ScratchSpec extends SparkSpec {

  test("PerDir: 8 concurrent callers on one dir run exactly one build") {
    val memo = new Scratch.PerDir[String]
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(() => {
          start.await()
          memo("/in/a") {
            builds.incrementAndGet()
            Thread.sleep(50) // keep the first build open while the rest arrive
            "artifact-a"
          }
        })
      }
      start.countDown()
      assert(results.map(_.get(30, TimeUnit.SECONDS)).toSet === Set("artifact-a"))
      assert(builds.get === 1)
    } finally pool.shutdownNow()
  }

  test("PerDir: different input dirs build separately, repeats hit") {
    val memo = new Scratch.PerDir[String]
    val builds = new AtomicInteger(0)
    def get(d: String) = memo(d) { builds.incrementAndGet(); s"for:$d" }
    assert(get("/in/a") === "for:/in/a")
    assert(get("/in/b") === "for:/in/b")
    assert(get("/in/a") === "for:/in/a")
    assert(builds.get === 2)
  }

  test("PerDir: a throwing build leaves no entry and the next call rebuilds") {
    val memo = new Scratch.PerDir[String]
    val builds = new AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      memo("/in/a") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage === "boom")
    assert(memo("/in/a") { builds.incrementAndGet(); "ok" } === "ok")
    assert(memo("/in/a") { builds.incrementAndGet(); "again" } === "ok")
    assert(builds.get === 2)
  }

  test("PerDir: a build may call into another family's memo") {
    val inner = new Scratch.PerDir[String]
    val outer = new Scratch.PerDir[(String, String)]
    // many keys, so a design that shares one map across families would
    // hit its own reserved bin (ConcurrentHashMap's "Recursive update")
    val keys = (0 until 256).map(i => s"/in/k$i")
    keys.foreach(k => outer(k)((inner(k)(s"inner:$k"), s"outer:$k")))
    assert(keys.forall(k => inner(k)(sys.error("must hit")) == s"inner:$k"))
    def innerDir(d: String) = inner(d)(Scratch.write("graft_spec_inner",
      spark.range(10).toDF("x")))
    val (a, b) = outer("/in/a") {
      val i = innerDir("/in/a")
      (i, Scratch.write("graft_spec_outer", spark.read.parquet(i).filter(col("x") < 5)))
    }
    assert(innerDir("/in/a") === a) // the nested entry was recorded
    assert(spark.read.parquet(b).count() === 5L)
  }

  test("stage: an artifact read in a new session joins that session's frames") {
    val memo = new Scratch.PerDir[String]
    memo("/in/a")(Scratch.write("graft_spec_keys",
      spark.range(6).select(col("id").as("k"), (col("id") * 10).as("v"))))
    val staged = Scratch.stage("graft_spec_stage",
      spark.range(3).select(col("id").as("k")))
    assert(staged.sparkSession eq spark)
    assert(staged.count() === 3L)

    val client = spark.newSession()
    val local = client.range(2, 5).select(col("id").as("k"))
    val joined = client.read.parquet(memo("/in/a")(sys.error("must hit")))
      .join(local, "k").orderBy("k")
    assert(joined.sparkSession eq client)
    assert(joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((2L, 20L), (3L, 30L), (4L, 40L)))
  }
}
