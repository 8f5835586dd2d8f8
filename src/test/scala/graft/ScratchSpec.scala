package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

/** Pins the staging primitive's contract (Scratch.stage / Scratch.PerDir):
  * one build per key under concurrency, independent keys, no entry on a
  * failed build, nested builds across families, and session-free values
  * that any client session can read back and join. Pins the staged-loop
  * combinator (Scratch.iterate / iterateAll): state loops free round r−2,
  * history loops keep every round, caps stop or fail loudly, and the
  * iterative queries give the same results from 4 sessions at once.
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

  private def dirOf(df: org.apache.spark.sql.DataFrame): String =
    java.nio.file.Paths.get(new java.net.URI(df.inputFiles.head)).getParent.toString

  private def exists(dir: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(dir))

  test("iterate: a state loop frees round r-2 once round r is written") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    var lazyRound0: org.apache.spark.sql.DataFrame = null
    val (last, prev) = Scratch.iterate(spark, "graft_spec_state",
        spark.range(8).toDF("x"), Scratch.Depth(4),
        settled = (r, cur) => {
          seen += dirOf(cur)
          if (r == 0) lazyRound0 = cur.filter(col("x") > 2)
          if (r >= 2) {
            assert(!exists(seen(r - 2)), s"round ${r - 2} still on disk at round $r")
            intercept[IllegalArgumentException](Scratch.read(spark, seen(r - 2)))
          }
          assert(exists(seen(r)) && (r == 0 || exists(seen(r - 1))))
          false
        }) { (_, prev) => prev.select((col("x") + 1).as("x")) }
    assert(seen.length === 5)
    assert((last, prev) === (seen(4), seen(3)))
    assert(Scratch.read(spark, last).agg(sum("x")).head().getLong(0) === 60L)
    assert(Scratch.read(spark, prev).agg(sum("x")).head().getLong(0) === 52L)
    // a plan built over a freed round fails loudly, it never reads short
    intercept[Exception](lazyRound0.collect())
  }

  test("drop: a state loop leaves only its last two rounds registered") {
    def live = Scratch.created.synchronized(Scratch.created.length)
    val before = live
    val (last, prev) = Scratch.iterate(spark, "graft_spec_forget",
        spark.range(3).toDF("x"), Scratch.Depth(20)) { (_, prev) => prev }
    // 21 rounds written, 19 dropped: only the final two stay registered
    assert(live - before === 2)
    val paths = Set(last, prev).map(java.nio.file.Paths.get(_))
    assert(Scratch.created.synchronized(Scratch.created.takeRight(2).toSet) === paths)
  }

  test("iterate: a convergent loop that never settles fails at cap + 1, naming the loop") {
    var steps = 0
    val e = intercept[IllegalArgumentException] {
      Scratch.iterate(spark, "graft_spec_conv", spark.range(3).toDF("x"),
          Scratch.Converge("spec loop", 3, "specMaxRounds")) { (_, prev) =>
        steps += 1
        prev
      }
    }
    assert(steps === 3)
    assert(e.getMessage.contains("spec loop") && e.getMessage.contains("specMaxRounds"))
  }

  test("iterate: a loop that settles at round 2 runs exactly 2 rounds") {
    for (cap <- Seq(Scratch.Depth(10), Scratch.Converge("spec loop", 10, "specMaxRounds"))) {
      var steps = 0
      val dirs = Scratch.iterateAll(spark, "graft_spec_stop", spark.range(3).toDF("x"),
          cap, settled = (r, _) => r == 2) { (_, prev, _) => steps += 1; prev }
      assert(steps === 2)
      assert(dirs.length === 3)
    }
  }

  test("iterateAll: a history loop keeps every round; its bound union equals a raw read") {
    val dirs = Scratch.iterateAll(spark, "graft_spec_hist",
        spark.range(4).select(col("id").as("x"), lit(0).as("r")),
        Scratch.Depth(3)) { (r, prev, kept) =>
      assert(kept.length === r)
      // round 3 is an empty slice: a dir with no footer to infer from
      prev.filter(col("x") > r).select(col("x"), lit(r).as("r"))
    }
    assert(dirs.length === 4 && dirs.forall(exists))
    assert(Scratch.read(spark, dirs.last).count() === 0L)
    val bound = Scratch.read(spark, dirs: _*).orderBy("r", "x").collect().toSeq
    assert(bound === spark.read.parquet(dirs: _*).orderBy("r", "x").collect().toSeq)
    assert(bound.map(r => (r.getLong(0), r.getInt(1))) ===
      Seq((0L, 0), (1L, 0), (2L, 0), (3L, 0), (2L, 1), (3L, 1), (3L, 2)))
  }

  test("read: several dirs must all come from write and share one schema") {
    val a = Scratch.write("graft_spec_multi_a", spark.range(3).toDF("x"))
    // nullability differs (range ids are non-null): the bound read drops it anyway
    val b = Scratch.write("graft_spec_multi_b", spark.range(1).select(lit(null).cast("long").as("x")))
    assert(Scratch.read(spark, a, b).count() === 4L)
    val raw = Scratch.dir("graft_spec_multi_raw")
    spark.range(2).toDF("x").write.mode("overwrite").parquet(raw)
    intercept[IllegalArgumentException](Scratch.read(spark, a, raw))
    val other = Scratch.write("graft_spec_multi_c", spark.range(2).toDF("y"))
    intercept[IllegalArgumentException](Scratch.read(spark, a, other))
    val wider = Scratch.write("graft_spec_multi_d", spark.range(2).select(col("id").cast("int").as("x")))
    intercept[IllegalArgumentException](Scratch.read(spark, a, wider))
  }

  test("staged loops free rounds safely: 4 sessions at once match a sequential run") {
    val names = Seq("q210_scc_classes", "q251_lpa_converged", "q252_kcore_converged",
      "q276_ktruss", "q246_graph_ann_recall", "q253_hyperball", "q258_harmonic_centrality")
    // fresh copies of the fixture: every per-input-dir memo misses, so each
    // run pays its loops (a warm memo would skip q253/q258's loop)
    assertConcurrentMatchesSequential(names)
  }

  test("min-label CC and HITS loops: 4 sessions at once match a sequential run") {
    // q245 runs its forward and backward fixpoints at once on ONE session
    assertConcurrentMatchesSequential(Seq("q59_dup_clusters",
      "q131_entity_clusters", "q243_semantic_clusters", "q245_scc_converged",
      "q255_incremental_cc", "q262_hits"))
  }

  test("shared IVF, HLL and report-tail fragments: 4 sessions at once match a sequential run") {
    // the IVF cell assignment (both staged indexes: embCorpusIndex behind
    // q235/q241/q254, homeCellsDir behind q286/q287), the HLL register
    // sketch, and the batch/stream report tails
    assertConcurrentMatchesSequential(Seq("q47_ivf_ann", "q72_ann_recall",
      "q101_semantic_dedup", "q215_ivf_coverage", "q235_delta_semdedup",
      "q241_ivf_drift", "q254_semantic_decontam", "q286_triplet_mining",
      "q287_silhouette_sampled", "q105_hll_distinct", "q118_grouped_hll",
      "q122_hll_rollup", "q156_hll_set_algebra", "q282_funnel_steps",
      "q292_multi_touch", "q331_srm_audit", "q340_stream_srm"))
  }

  test("banded pair joins: 4 sessions at once match a sequential run") {
    // every banded join keeps a pair only at its lowest colliding band;
    // q37 and q204 share the staged minhash candidates, q114 probes the
    // staged corpus index
    assertConcurrentMatchesSequential(Seq("q65_simhash_neardup",
      "q256_phash_dedup", "q36_embed_neardup", "q37_minhash_neardup",
      "q204_lsh_recall", "q114_delta_neardup"))
  }
}
