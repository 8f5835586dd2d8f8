package graft

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Scratch staging for operators that persist intermediates on disk. The
  * staging decision lives here, once: parquet, written with mode
  * `overwrite` into a fresh temp directory that is registered for
  * recursive deletion at JVM exit, so repeated bench/verify rounds in one
  * process — or many processes on a shared machine — don't accumulate full
  * table copies in /tmp. (A cluster deployment would point this at a
  * job-scoped staging prefix and let the platform's TTL policy reap it; the
  * lifecycle contract — scratch data dies with the job — is the same.)
  *
  *  - [[write]] / [[stage]]: write a frame once to a fresh dir and return
  *    the dir / read it back (a lineage cut: every later reference is a
  *    parquet leaf scan, not a re-execution of the plan).
  *  - [[read]]: read one or more [[write]] dirs back with the schema
  *    recorded at write time. An unbound `read.parquet(dir)` runs a
  *    one-task Spark job to infer the schema from a footer on EVERY call;
  *    a bound read runs none, and an empty dir (no footer) reads fine.
  *  - [[iterate]] / [[iterateAll]]: a staged loop — round 0 and every
  *    round r are [[write]] dirs, round r is built from round r−1 read
  *    bound, and the loop stops when it settles or at its [[Cap]]. A state
  *    loop ([[iterate]]) drops round r−2 once round r is written, so at
  *    most the two newest rounds are live; a history loop ([[iterateAll]])
  *    keeps every round for consumers that read them all.
  *  - [[PerDir]]: a per-INPUT-DIR memo of a staged artifact for the JVM's
  *    lifetime — one instance per artifact family. The first query touching
  *    a family pays the build, every later query reads the parquet leaf.
  *  - [[dir]] / [[drop]]: the raw dirs, for layouts that are themselves the
  *    operator (bucketing, partitioning, streaming checkpoints, subdirs).
  *
  * == The per-JVM staging-memo contract ([[PerDir]]) ==
  *  1. '''Fixture data is immutable per JVM.''' The driver's testdata
  *     dirs are generated once and read-only; regenerating data at the
  *     same path mid-session would serve stale artifacts. A dev loop that
  *     rewrites a fixture must restart the JVM (sbt's forked test JVMs and
  *     the driver's per-round Verify/Bench processes all do). Keying on
  *     (dir, mtime) was considered and rejected: an mtime probe per lookup
  *     re-lists the directory on the hot path of EVERY query, to defend a
  *     sequence no harness run performs.
  *  2. '''One entry per distinct input path, never evicted.''' Each family
  *     holds one key per input dir it was asked about, for the JVM's
  *     life, and nothing bounds the count: a run that reads a fresh input
  *     path on every pass (perfbench's batch_cold workload, the specs'
  *     `freshInput()`) adds a key per pass to every family it touches.
  *     A bound (a byte budget with LRU eviction of unleased entries, or a
  *     TTL'd cache keyed on a snapshot id) belongs in this class — it is
  *     the seam, and ROADMAP item 8 is where that bound is planned.
  *
  * == Schema binding ([[read]], [[graft.sources.Tables.table]]) ==
  *  - The schema memos rest on contract 1: a dir's bytes do not change
  *    within the JVM, so its schema, once known, is its schema for the
  *    JVM's life. [[write]] never reuses a dir; a dir that code writes more
  *    than once (layouts, streaming sinks) is a raw [[dir]] and is read
  *    unbound.
  *  - The schema [[write]] records is exact: it is the frame's own
  *    schema, which is what the parquet writer stores in the footer, and
  *    Spark's parquet read applies `asNullable` to a user-given schema
  *    just as it does to an inferred one, so the bound read and an
  *    inferring read resolve to the same schema.
  *  - [[drop]] forgets the dir's recorded schema.
  */
object Scratch {
  /** Live scratch dirs, deleted by the exit hook; [[drop]] removes one. */
  private[graft] val created = mutable.ArrayBuffer.empty[Path]
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private lazy val hookInstalled: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      created.synchronized(created.toList).foreach(deleteRecursively)
    }, "graft-scratch-cleanup"))
  }

  private def deleteRecursively(p: Path): Unit =
    // best-effort by contract: the walk itself can throw UncheckedIOException
    // when racing a concurrent delete (exit hook vs an early drop()) — that
    // must not abort the hook's cleanup of the REMAINING dirs, nor mask a
    // caller's own result when invoked from a finally block
    try {
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        val walk = Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(f => try Files.delete(f) catch { case _: java.io.IOException => () })
        finally walk.close()
      }
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }

  /** A fresh temp directory, deleted (recursively) at JVM exit. */
  def dir(prefix: String): String = {
    hookInstalled
    val p = Files.createTempDirectory(prefix)
    created.synchronized(created += p)
    p.toString
  }

  /** Delete a scratch dir early and forget it: its recorded schema and
    * its entry in [[created]].
    */
  def drop(dir: String): Unit = {
    schemas.remove(dir)
    val p = Paths.get(dir)
    created.synchronized(created -= p)
    deleteRecursively(p)
  }

  /** Write `df` once to a fresh scratch dir and record its schema for
    * [[read]]; returns the dir.
    */
  def write(prefix: String, df: DataFrame): String = {
    val d = dir(prefix)
    df.write.mode("overwrite").parquet(d)
    schemas.put(d, df.schema)
    d
  }

  /** Read dirs that [[write]] produced as one frame, bound to their
    * recorded schema. The schemas must agree up to nullability, which the
    * bound read drops anyway (Spark reads a user-given schema as nullable).
    */
  def read(s: SparkSession, dirs: String*): DataFrame = {
    val sts = dirs.map { d =>
      val st = schemas.get(d)
      require(st != null, s"Scratch.read: $d was not produced by Scratch.write")
      st.toNullable
    }
    require(sts.nonEmpty, "Scratch.read: no dirs")
    require(sts.forall(_ == sts.head),
      s"Scratch.read: recorded schemas differ across ${dirs.mkString(", ")}")
    s.read.schema(sts.head).parquet(dirs: _*)
  }

  /** Write `df` once to a fresh scratch dir and read it back in `df`'s
    * session.
    */
  def stage(prefix: String, df: DataFrame): DataFrame =
    read(df.sparkSession, write(prefix, df))

  /** When a staged loop stops. */
  sealed trait Cap { def rounds: Int }

  /** Fixed depth: `rounds` rounds, fewer only if the loop settles first. */
  final case class Depth(rounds: Int) extends Cap

  /** Convergent: runs until the loop settles. Still moving after `rounds`
    * rounds fails loudly, naming `loop` and the cap constant `name`.
    */
  final case class Converge(loop: String, rounds: Int, name: String) extends Cap

  /** A state loop: round r is `step(r, round r−1)`. Returns the dirs of
    * (the final round, the one before it); every older round is dropped
    * as soon as the round two after it is written. A plan that still reads
    * a dropped round fails loudly (its file listing names files that are
    * gone); it never reads fewer rows.
    */
  def iterate(s: SparkSession, prefix: String, init: DataFrame, cap: Cap,
      settled: (Int, DataFrame) => Boolean = (_, _) => false)(
      step: (Int, DataFrame) => DataFrame): (String, String) = {
    val dirs = rounds(s, prefix, init, cap, settled, keepAll = false)(
      (r, prev, _) => step(r, prev))
    (dirs.last, dirs.head)
  }

  /** A history loop: round r is `step(r, round r−1, dirs of rounds
    * 0..r−1)`. Keeps and returns every round's dir; [[read]] of them all
    * is the loop's union.
    */
  def iterateAll(s: SparkSession, prefix: String, init: DataFrame, cap: Cap,
      settled: (Int, DataFrame) => Boolean = (_, _) => false)(
      step: (Int, DataFrame, Vector[String]) => DataFrame): Vector[String] =
    rounds(s, prefix, init, cap, settled, keepAll = true)(step)

  /** The one staged loop behind [[iterate]] and [[iterateAll]]: writes
    * round 0, then round r = 1, 2, … under `prefix`, asking `settled` of
    * each round just written (round 0 included, read bound — the same
    * frame is the next round's `prev`). Any per-round driver sync lives in
    * `settled` or `step`; the loop itself runs no Spark job but the writes.
    */
  private def rounds(s: SparkSession, prefix: String, init: DataFrame,
      cap: Cap, settled: (Int, DataFrame) => Boolean, keepAll: Boolean)(
      step: (Int, DataFrame, Vector[String]) => DataFrame): Vector[String] = {
    var dirs = Vector(write(s"${prefix}0", init))
    var cur = read(s, dirs.last)
    var done = settled(0, cur)
    var r = 0
    while (!done && r < cap.rounds) {
      r += 1
      dirs :+= write(s"$prefix$r", step(r, cur, dirs))
      if (!keepAll && dirs.length > 2) { drop(dirs.head); dirs = dirs.tail }
      cur = read(s, dirs.last)
      done = settled(r, cur)
    }
    cap match {
      case Converge(loop, max, name) => require(done,
        s"$loop: still moving after $max rounds — raise $name (and the " +
          "oracle unroll) together")
      case Depth(_) =>
    }
    dirs
  }

  /** A per-input-dir memo for ONE artifact family (contract above).
    *
    *  - One build per key: concurrent callers on the same dir block on
    *    the first build (`computeIfAbsent`).
    *  - A build that throws records no entry; the next call rebuilds.
    *  - Nested builds must target a DIFFERENT family's instance:
    *    `ConcurrentHashMap` rejects a recursive update of its own map.
    *  - Never store a DataFrame: it is bound to the building session and
    *    every client runs its own `newSession()`. Store the dir path (read
    *    it back in the caller's session) or another session-free value.
    */
  final class PerDir[V <: AnyRef] {
    private val entries = new java.util.concurrent.ConcurrentHashMap[String, V]()
    def apply(inputDir: String)(build: => V): V =
      entries.computeIfAbsent(inputDir, _ => build)
  }
}
