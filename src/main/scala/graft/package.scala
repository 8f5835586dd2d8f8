package object graft {
  /** Driver contract: a named query is (session, sfDir) => result DataFrame. */
  type Q = (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame

  /** The local session Bench, Verify and the specs run on: `cpus` cores
    * and as many shuffle partitions, UTC.
    */
  def localSession(cpus: Int): org.apache.spark.sql.SparkSession =
    org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet is TIMESTAMP(NANOS); see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // native vec_dot/vec_sqnorm expressions (graft.functions.VecExprs)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // 80+ queries in one session accumulate dead broadcasts, shuffle
      // files and checkpoint blocks that the ContextCleaner only reclaims
      // after a GC notices them; the default periodic GC (30 min) never
      // fires inside a bench run, so late queries pay the debris as heap
      // pressure. One forced GC a minute keeps the session flat.
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Run `a` and `b` at once and return both results. `b` runs on a
    * thread started by this call, so it inherits the caller's Spark local
    * properties (job group, tags, description) as they are now; a pooled
    * thread would keep whatever it inherited when the pool created it.
    * `a` runs on the caller's thread. `b` is joined before this returns or
    * rethrows, so neither side outlives the call; if both throw, `a`'s
    * error is rethrown with `b`'s attached as suppressed.
    */
  def concurrently[A, B](a: => A, b: => B): (A, B) = {
    var rb: Either[Throwable, B] = null // read after join, which orders it
    val t = new Thread(() => rb = try Right(b) catch { case e: Throwable => Left(e) },
      "graft-concurrently")
    t.setDaemon(true)
    t.start()
    val ra = try Right(a) catch { case e: Throwable => Left(e) }
    var interrupted = false
    while (t.isAlive) try t.join() catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
    (ra, rb) match {
      case (Right(x), Right(y)) => (x, y)
      case (Left(e), Left(eb)) => e.addSuppressed(eb); throw e
      case (Left(e), _) => throw e
      case (_, Left(eb)) => throw eb
    }
  }
}
