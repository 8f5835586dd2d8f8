package graftbench

import java.io.{File, FileInputStream, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.QueryModule

/** Runs one benchmark schedule in a fresh JVM and writes its raw records.
  *
  * Usage: Harness <plan.properties>
  *
  * The plan (written by perfbench/run.py) names the data directory, the
  * query subset, each client's query order per pass, the timed window and
  * whether the traced run's listeners are attached. The harness
  *  1. builds the session with graft.Bench's configuration plus the pins
  *     (local[cores], shuffle partitions = cores, private warehouse dir),
  *  2. runs Tables.smokeCheck and one untimed warm-up pass, spread over
  *     max(clients, cores) threads,
  *  3. runs the timed passes closed-loop, one thread per client, each on
  *     its own newSession(); every client runs at least `min_passes` whole
  *     passes, starts another only before the deadline, and always
  *     finishes the pass it started,
  *  4. dumps every subset query once through graft.Verify.dumpAll for the
  *     oracle check (untimed, one thread per core),
  * and writes everything to `<run_dir>/records.json`. Metric arithmetic
  * lives in perfbench/metrics.py.
  */
object Harness {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds with nanoTime resolution. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val modules: Map[String, QueryModule] = Map(
    "Relational" -> graft.operators.Relational,
    "Joins" -> graft.operators.Joins,
    "Events" -> graft.operators.Events,
    "Stats" -> graft.operators.Stats,
    "Geo" -> graft.operators.Geo,
    "AsOf" -> graft.operators.AsOf,
    "Text" -> graft.operators.Text,
    "Dedup" -> graft.operators.Dedup,
    "Similarity" -> graft.operators.Similarity,
    "Multimodal" -> graft.operators.Multimodal,
    "Pipeline" -> graft.operators.Pipeline,
    "Graph" -> graft.operators.Graph,
    "Storage" -> graft.operators.Storage,
    "StreamingJobs" -> graft.streaming.StreamingJobs,
    "ml.Pipelines" -> graft.ml.Pipelines)

  final case class Exec(id: Int, client: Int, pass: Int, query: String,
      module: String, start: Double, built: Double, end: Double,
      error: Option[String])

  def main(args: Array[String]): Unit = {
    val plan = new Properties()
    val in = new FileInputStream(args(0))
    try plan.load(in) finally in.close()
    def get(k: String): String =
      Option(plan.getProperty(k)).getOrElse(sys.error(s"plan has no '$k'"))
    val cores = get("cores").toInt
    val clients = get("clients").toInt
    val seconds = get("seconds").toDouble
    val traced = get("trace") == "1"
    val freshPaths = get("fresh_paths") == "1"
    val baseData = get("data")
    val runDir = Paths.get(get("run_dir"))
    val subset = get("queries").split(',').toSeq
    val passes = get("passes").toInt
    val minPasses = get("min_passes").toInt
    def order(client: Int, pass: Int): Seq[String] =
      get(s"order.$client.${pass % passes}").split(',').toSeq

    val byName: Map[String, (String, graft.Q)] = modules.toSeq.flatMap {
      case (m, mod) => mod.queries.toSeq.map { case (q, fn) => q -> (m -> fn) }
    }.toMap
    val missing = subset.filterNot(byName.contains)
    require(missing.isEmpty, s"queries not found in any module: ${missing.mkString(",")}")

    val scratchRoots = Seq(get("tmp_dir"), get("warehouse_dir"))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", get("warehouse_dir"))
      .config("spark.local.dir", get("local_dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReady = now()
    val sessions = (0 until clients).map(_ => spark.newSession())
    val tracer = if (traced) Some(new Tracer(spark, sessions)) else None

    // batch_cold: every pass reads the same bytes through a new directory
    // path (hard links), so every per-input-dir staging cache misses.
    var lastData = baseData
    def dataFor(pass: Int): String = synchronized {
      if (freshPaths) {
        val dir = runDir.resolve(s"data_pass$pass")
        if (!Files.exists(dir)) linkTree(Paths.get(baseData), dir)
        lastData = dir.toString
      }
      lastData
    }

    graft.sources.Tables.smokeCheck(spark, baseData)
    val ready = now()

    val execs = new ConcurrentLinkedQueue[Exec]()
    val scratchSamples = new ConcurrentLinkedQueue[(Double, Long)]()
    val ids = new java.util.concurrent.atomic.AtomicInteger(0)
    def run(client: Int, pass: Int, q: String, data: String, session: SparkSession): Exec = {
      val (module, fn) = byName(q)
      val id = ids.getAndIncrement()
      tracer.foreach(_.begin(session, id))
      val t0 = now()
      var built = t0
      val err = try {
        val df = fn(session, data)
        built = now()
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable =>
        Some(Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
          .take(2).mkString(" | ").take(300))
      } finally tracer.foreach(_.end(session))
      val t1 = now()
      if (built == t0 && err.isDefined) built = t1
      Exec(id, client, pass, q, module, t0, built, t1, err)
    }
    def sampleScratch(): Unit =
      scratchSamples.add(now() -> scratchRoots.map(r => bytesUnder(Paths.get(r))).sum)
    def topLevelEntries(): Int =
      Option(new File(get("tmp_dir")).list()).map(_.length).getOrElse(0)

    // Untimed warm-up pass: JIT, codegen and the per-JVM staging caches.
    // The pass is spread over max(clients, cores) threads (query i on
    // thread i % threads), each on its own session; thread c < clients
    // uses client c's session.
    val warmThreads = math.max(clients, cores)
    val warmSessions = sessions ++ (clients until warmThreads).map(_ => spark.newSession())
    val warmDirs0 = topLevelEntries()
    val warmData = dataFor(0)
    val warm = inClients(warmThreads) { c =>
      subset.indices.filter(_ % warmThreads == c)
        .map(i => run(c, -1, subset(i), warmData, warmSessions(c)))
    }.flatten.sortBy(_.start)
    val warmDirs1 = topLevelEntries()
    sampleScratch()

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
    val gc0 = gcMs()
    val timedStart = now()
    val deadline = timedStart + seconds * 1000.0
    val nextPass = new java.util.concurrent.atomic.AtomicInteger(1)
    inClients(clients) { c =>
      var pass = 0
      while (pass < minPasses || now() < deadline) {
        val data = if (freshPaths) dataFor(nextPass.getAndIncrement()) else baseData
        order(c, pass).foreach(q => execs.add(run(c, pass, q, data, sessions(c))))
        sampleScratch()
        pass += 1
      }
    }
    val timedEnd = now()
    val gc1 = gcMs()
    val timedDirs = topLevelEntries() - warmDirs1
    val vmHwmKb = procStatusKb("VmHWM")

    tracer.foreach(_.drain())
    // Correctness dumps, untimed, after the timed passes, through the
    // path the last pass read (same bytes as the base data).
    val dumpStart = now()
    val dumpDir = runDir.resolve("dumps").toString
    // untimed, so spread over one thread per core, each on its own session
    val dumpSessions = (0 until cores).map(_ => spark.newSession())
    val dumpFailures = inClients(cores) { c =>
      graft.Verify.dumpAll(dumpSessions(c), lastData, dumpDir,
        subset.indices.filter(_ % cores == c).map(i => subset(i) -> byName(subset(i))._2))
    }.flatten.toMap
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => subset.contains(k) }

    val out = new PrintWriter(runDir.resolve("records.json").toFile, "UTF-8")
    try {
      import Json._
      out.println(obj(
        "session_ms" -> num(sessionReady),
        "ready_ms" -> num(ready),
        "timed_start_ms" -> num(timedStart),
        "timed_end_ms" -> num(timedEnd),
        "dumps_ms" -> num(now() - dumpStart),
        "gc_ms" -> num((gc1 - gc0).toDouble),
        "vm_hwm_kb" -> num(vmHwmKb.toDouble),
        "heap_max_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
        "warm_dirs" -> num((warmDirs1 - warmDirs0).toDouble),
        "timed_dirs" -> num(timedDirs.toDouble),
        "sessions" -> arr(sessions.map(s => num(System.identityHashCode(s).toDouble))),
        "warmup" -> arr(warm.map(execJson)),
        "execs" -> arr(execs.asScala.toSeq.sortBy(_.start).map(execJson)),
        "scratch" -> arr(scratchSamples.asScala.toSeq.map { case (t, b) =>
          arr(Seq(num(t), num(b.toDouble))) }),
        "dump_errors" -> obj(dumpFailures.toSeq.map { case (k, v) => k -> str(v) }: _*),
        "oracles" -> obj(oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> str(v) }: _*),
        "trace" -> tracer.map(_.json()).getOrElse("null")))
    } finally out.close()
    spark.stop()
    // Same reason as graft.Bench: a leaked non-daemon thread must not keep
    // the JVM alive once the records are on disk.
    sys.exit(0)
  }

  /** Run `body(c)` on one thread per client, released together; wait for
    * all and return their results in client order. */
  def inClients[T](clients: Int)(body: Int => T): Seq[T] = {
    val start = new CountDownLatch(1)
    val results = new Array[Any](clients)
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => { start.await(); results(c) = body(c) },
        s"graftbench-client-$c")
      t.start()
      t
    }
    start.countDown()
    threads.foreach(_.join())
    results.toSeq.map(_.asInstanceOf[T])
  }

  private def execJson(e: Exec): String = {
    import Json._
    obj("id" -> num(e.id.toDouble), "client" -> num(e.client.toDouble),
      "pass" -> num(e.pass.toDouble), "query" -> str(e.query),
      "module" -> str(e.module), "start" -> num(e.start), "built" -> num(e.built),
      "end" -> num(e.end), "error" -> e.error.map(str).getOrElse("null"))
  }

  /** Mirror `from` into `to` with hard links: same bytes, new path. */
  def linkTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.createLink(target, p)
    } finally walk.close()
  }

  /** Bytes of every file and directory entry under root (a directory counts
    * its own size attribute, so an empty staging dir is not free). */
  def bytesUnder(root: Path): Long =
    if (!Files.exists(root)) 0L
    else try {
      val walk = Files.walk(root)
      try walk.iterator().asScala.map { p =>
        try Files.size(p) catch { case _: java.io.IOException => 0L }
      }.sum finally walk.close()
    } catch { case _: java.io.UncheckedIOException | _: java.io.IOException => 0L }

  def procStatusKb(key: String): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith(key + ":") =>
        l.split("\\s+")(1).toLong }.getOrElse(-1L)
    catch { case _: java.io.IOException => -1L }
}

/** Minimal JSON writer for the records file. */
object Json {
  def str(s: String): String = graft.Verify.jstr(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
