package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import graft.{OracleSql, Q, QueryModule}
import graft.functions.Exact._
import graft.functions.Hashing.{hllBuckets, hllNEmpty, hllRanks, hllSInv}
import graft.sources.Tables
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{DataType, StructType}

/** Structured Streaming slice (SURVEY.md §2.9 — absent from the reference;
  * reserved by the build plan M5). Each job runs a batch-equivalent
  * computation through `readStream` → `writeStream`, so it shares the batch
  * twin's DuckDB oracle: batch/stream parity is itself the check.
  *
  * == The drain contract ==
  * Every streaming query in graft (these, Dedup q244 and Similarity q249)
  * runs through [[drain]]:
  *  - '''Trigger.''' `Trigger.AvailableNow`: the query drains the whole
  *    backlog in bounded micro-batches and stops itself — the
  *    batch-parity trigger for a static input, and the backfill pattern.
  *  - '''Width.''' [[statePartitions]] shuffle partitions, set on the
  *    caller's session around start, await and stop. The query clones the
  *    session at start, so its state stores and its foreachBatch bodies
  *    run at that width.
  *  - '''Batch count.''' A drain returns the number of micro-batches that
  *    carried data (`numInputRows > 0`). AvailableNow can post zero-input
  *    progress (a trailing commit or idle tick), which is not a fold.
  *  - '''Stop.''' The query stops in `finally`; [[drainToLocal]] drops its
  *    memory-sink view in `finally`. A batch that throws leaves no active
  *    stream and no view behind.
  *  - '''Versions.''' A [[foldVersions]] state fold is exactly-once under
  *    replay: batch n reads version n−1 (the initial state when n = 0) and
  *    overwrites `state_v<n>`, so a batch Spark runs again after a restart
  *    re-reads the same predecessor and rewrites the same successor. The
  *    fold's result is the newest version listed under its root, which is
  *    also what a restart that replays nothing resumes from. Each version
  *    carries its schema (`_schema.json`), and every version read is
  *    bound to it, so no read runs a footer-inference job.
  *  - '''Sources.''' A [[Staged]] file source streams bound to the schema
  *    of the frame written there, so building the stream runs no
  *    footer-inference job.
  *
  * At scale the source swaps for Kafka/file-directory streams and the
  * state store partitions by the grouping/dedup key exactly like the batch
  * shuffle does.
  */
object StreamingJobs extends QueryModule {

  private val runId = new AtomicInteger()

  /** State-store width for the bounded fixture drains: the shuffle-partition
    * count fixes the number of state-store instances a stateful streaming
    * query creates, and should track STATE SIZE, not the batch session's
    * CPU count — every stateful operator materializes, commits, and
    * snapshots one store per partition per micro-batch, so a query whose
    * state fits in a handful of stores pays pure fixed overhead for each
    * extra partition. At production state volumes the same knob goes UP —
    * the decision is explicit either way. AQE re-coalesces batch stages
    * at runtime, but stateful streaming never gets that rescue: its width
    * must be chosen before the first batch.
    */
  private val statePartitions = 8

  /** Runs `writer` to completion under the drain contract; returns the
    * number of data-carrying micro-batches. The only session-conf write
    * in graft: `spark.sql.shuffle.partitions` is [[statePartitions]]
    * from start to stop, and the caller's value is restored after.
    */
  private[graft] def drain(s: SparkSession, writer: DataStreamWriter[_]): Long = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, statePartitions.toString)
    try {
      val q = writer.trigger(Trigger.AvailableNow()).start()
      try {
        q.awaitTermination()
        q.recentProgress.count(_.numInputRows > 0).toLong
      } finally q.stop()
    } finally s.conf.set(key, prev)
  }

  /** Drains `df` into the memory sink in output `mode`, then returns
    * `result` of the sink table collected into a local frame, with the
    * batch count. The sink's view is dropped, so repeated runs in one
    * session do not pile up memory-sink copies of their results.
    */
  private[graft] def drainToLocal(df: DataFrame, mode: String)(
      result: DataFrame => DataFrame): (DataFrame, Long) = {
    val s = df.sparkSession
    val name = s"stream_${runId.incrementAndGet()}"
    try {
      val batches = drain(s,
        df.writeStream.outputMode(mode).format("memory").queryName(name))
      val res = result(s.table(name))
      (s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema),
        batches)
    } finally s.catalog.dropTempView(name)
  }

  private def fs(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** The `<prefix><n>` dirs under `root`, oldest (smallest n) first. */
  private def listed(s: SparkSession, root: String, prefix: String): Seq[String] = {
    val hfs = fs(s, root)
    if (!hfs.exists(new Path(root))) Nil
    else hfs.listStatus(new Path(root)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .sortBy(_.getPath.getName.stripPrefix(prefix).toLong)
      .map(_.getPath.toString)
  }

  /** The state versions a [[foldVersions]] under `root` has published. */
  private[graft] def versions(s: SparkSession, root: String): Seq[String] =
    listed(s, root, "state_v")

  /** A version's schema file. Spark's file index skips `_`-prefixed
    * names, so the parquet read of the dir never sees it.
    */
  private def schemaFile(dir: String): Path = new Path(dir, "_schema.json")

  /** Overwrites `dir` with `df`, then records `df`'s schema in it. */
  private def writeVersion(dir: String, df: DataFrame): Unit = {
    df.write.mode("overwrite").parquet(dir)
    val out = fs(df.sparkSession, dir).create(schemaFile(dir), true)
    try out.write(df.schema.json.getBytes("UTF-8")) finally out.close()
  }

  /** Reads a [[foldVersions]] version bound to its recorded schema: no
    * footer-inference job, and no state of this JVM needed, so a version
    * an earlier run wrote reads the same way.
    */
  private[graft] def readVersion(s: SparkSession, dir: String): DataFrame = {
    val in = fs(s, dir).open(schemaFile(dir))
    val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    s.read.schema(DataType.fromJson(json).asInstanceOf[StructType]).parquet(dir)
  }

  /** A foreachBatch state fold (the version rule above): batch n writes
    * `step(batch, version n−1)` to `root/state_v<n>`; version −1 is `init`
    * (`None`: no prior state; otherwise a [[graft.Scratch.write]] dir).
    * Returns the newest version (`init` if none was published) and the
    * batch count. Every read is bound to a recorded schema.
    */
  private[graft] def foldVersions(root: String, stream: DataFrame,
      init: Option[String] = None)(
      step: (DataFrame, Option[DataFrame]) => DataFrame): (DataFrame, Long) = {
    val s = stream.sparkSession
    def version(n: Long): Option[DataFrame] =
      if (n < 0) init.map(graft.Scratch.read(s, _))
      else Some(readVersion(s, s"$root/state_v$n"))
    val batches = drain(s, stream.writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (batch: DataFrame, n: Long) =>
        writeVersion(s"$root/state_v$n", step(batch, version(n - 1)))
      })
    val last = versions(s, root).lastOption.map(readVersion(s, _))
      .orElse(version(-1))
      .getOrElse(sys.error(s"$root: stream produced no micro-batches"))
    (last, batches)
  }

  /** A foreachBatch sink keyed by batch id: batch n writes `step(batch)`
    * to `root/batch_<n>` with mode overwrite, so a replayed batch rewrites
    * its own dir instead of appending its rows twice. Returns every batch
    * dir as one frame (an explicit listing: a glob logs a WARN-level
    * FileNotFoundException through the lazy-analysis retry even when the
    * read succeeds) and the batch count.
    */
  private[graft] def sinkBatches(root: String, stream: DataFrame)(
      step: DataFrame => DataFrame): (DataFrame, Long) = {
    val s = stream.sparkSession
    val batches = drain(s, stream.writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (batch: DataFrame, n: Long) =>
        step(batch).write.mode("overwrite").parquet(s"$root/batch_$n")
      })
    (s.read.parquet(listed(s, root, "batch_"): _*), batches)
  }

  /** A staged file source: parquet files under `dir`, written from a frame
    * whose (nullable) schema is `schema`.
    */
  private[graft] final case class Staged(dir: String, schema: StructType) {
    /** The file stream over `dir`, `perTrigger` files per micro-batch. */
    def stream(s: SparkSession, perTrigger: Int): DataFrame =
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", perTrigger.toString).parquet(dir)

    /** The same files as one batch frame. */
    def read(s: SparkSession): DataFrame = s.read.schema(schema).parquet(dir)
  }

  /** Stages `df` as `root/src` unless an earlier run against the same root
    * already did (a restart reads the source its checkpoint refers to).
    */
  private[graft] def stage(root: String, df: DataFrame): Staged = {
    val src = s"$root/src"
    if (!fs(df.sparkSession, src).exists(new Path(src)))
      df.write.mode("overwrite").parquet(src)
    Staged(src, df.schema.toNullable)
  }

  /** Stages each slice as one file `root/src/f<NN>.parquet` with strictly
    * increasing mtimes: the file source replays oldest-first, so slices
    * arrive in order.
    */
  private[graft] def stageOrdered(root: String, slices: Seq[DataFrame]): Staged = {
    val hfs = fs(slices.head.sparkSession, root)
    val src = s"$root/src"
    hfs.mkdirs(new Path(src))
    slices.zipWithIndex.foreach { case (slice, i) =>
      val part = s"$root/stage_$i"
      slice.coalesce(1).write.mode("overwrite").parquet(part)
      val file = hfs.listStatus(new Path(part))
        .find(_.getPath.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for slice $i of $root"))
      val dst = new Path(src, f"f$i%02d.parquet")
      hfs.rename(file.getPath, dst)
      hfs.setTimes(dst, 1000000L + i * 1000L, -1)
    }
    Staged(src, slices.head.schema.toNullable)
  }

  /** Streaming read of the events table, its `ts` adapted by
    * [[graft.sources.Tables.eventsTs]] exactly like the batch table — the
    * stored schema is probed once at plan time via a batch read, never
    * per micro-batch. The file is streamed directly via a glob pattern — a
    * `pathGlobFilter` over the whole sf dir would re-list every sibling
    * table on each micro-batch. The pattern must be a real glob:
    * FileStreamSource passes a non-glob path through as `basePath`, which
    * must be a directory (a bare file path throws in getBatch).
    */
  private def eventsStream(s: SparkSession, d: String): DataFrame =
    Tables.eventsTs(s, s.readStream.schema(Tables.table(s, d, "events").schema)
      .parquet(s"$d/events.*"))

  /** q39 — tumbling 1-hour event-time window over a streaming read of the
    * events table; result identical to the batch q22.
    */
  val streamTumbling: Q = (s, d) => {
    val agg = eventsStream(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total"))
    drainToLocal(agg, "complete")(_.orderBy("window_start", "event_type"))._1
  }

  /** q50 — streaming deduplication with watermark-bounded state, written
    * through a DURABLE parquet sink in append mode and read back — the
    * full production persistence path (checkpointed file sink), not the
    * test-only memory sink.
    *
    * `dropDuplicatesWithinWatermark` keys state by (user_id, event_type)
    * and evicts entries once the event-time watermark passes them — the
    * state store stays bounded no matter how long the stream runs, which
    * is the property that matters at 100 TB. The delay here exceeds the
    * fixture's whole time span, so the result is the exact distinct set
    * and the oracle is plain SELECT DISTINCT. Only the dedup keys are
    * projected: "first occurrence" of non-key columns is micro-batch-
    * order-dependent and has no place in a deterministic result.
    */
  val streamDedup: Q = (s, d) => {
    val dedup = eventsStream(s, d)
      .withWatermark("ts", "400 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    val tmp = graft.Scratch.dir("graft_stream_dedup")
    drain(s, dedup.writeStream.outputMode("append").format("parquet")
      .option("path", s"$tmp/data")
      .option("checkpointLocation", s"$tmp/ckpt"))
    s.read.parquet(s"$tmp/data").orderBy("user_id", "event_type")
  }

  /** q51 — stream-static enrichment join: the event stream joins a static
    * broadcast dimension (customer, keyed by user_id) and aggregates per
    * (nation, event_type). The static side is planned as a broadcast hash
    * join inside every micro-batch — no shuffle of the stream, the
    * canonical enrichment topology for event pipelines.
    */
  val streamStaticJoin: Q = (s, d) => {
    val dim = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"))
    val agg = eventsStream(s, d)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
    drainToLocal(agg, "complete")(_.orderBy("c_nationkey", "event_type"))._1
  }

  /** q68 — stream-stream inner join: each view event joined to the same
    * user's purchase events within the following hour. BOTH sides are
    * unbounded streams, so the state store must buffer rows until no
    * future match is possible — that is exactly what the two watermarks
    * plus the time-range join condition give the planner: it derives a
    * state eviction bound (a view older than watermark − 1 h can never
    * match again) and keeps state finite forever, the property that
    * separates a production stream-stream join from an OOM. State
    * partitions by user_id, same as the batch shuffle would.
    *
    * The batch twin is the same time-range join in DuckDB — matched rows
    * of an inner stream-stream join are emitted as soon as both sides
    * arrive, so on a drained finite input the result set is exactly the
    * batch join. One caveat makes that exact: the fixture is a single
    * parquet file, so AvailableNow drains it in ONE micro-batch and the
    * 1-hour watermarks never evict state mid-drain. A multi-file backfill
    * whose files are NOT event-time-clustered could advance the watermark
    * past a view before its cross-batch purchase arrives and drop the
    * match — exactly as a production stream would for data arriving later
    * than the declared bound. Backfills must either cluster input files by
    * event time or widen the watermark to their disorder bound.
    */
  val streamStreamJoin: Q = (s, d) => viewPurchaseJoin(s, d, "inner")

  /** q68/q104's stream-stream join of the watermarked view and purchase
    * streams: a purchase matches a view of the same user within the
    * following hour, joined as `joinType`; drained, ordered by (view_id,
    * purchase_id). */
  private def viewPurchaseJoin(s: SparkSession, d: String,
      joinType: String): DataFrame = {
    val views = eventsStream(s, d)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val purchases = eventsStream(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = views.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"),
        joinType)
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts"))).as("gap_us"))
    drainToLocal(joined, "append")(_.orderBy("view_id", "purchase_id"))._1
  }

  /** q104 — stream-stream LEFT OUTER join: q68's topology, plus the
    * semantics that make outer streaming joins genuinely different from
    * batch — a view with no purchase can only be emitted (with nulls) once
    * the watermark proves no future purchase can match it, i.e. when
    * `watermark > view_ts + 1 h`. Matched rows still emit as soon as both
    * sides arrive. On a drained finite input the global watermark ends at
    * `min(max view_ts, max purchase_ts) − 1 h` (two watermarked inputs →
    * the MIN policy), and the engine's final no-data micro-batch flushes
    * exactly the unmatched views older than that bound; the last ~2 h of
    * unmatched views stay buffered in state forever — a stream cannot know
    * it has ended. The oracle mirrors the bound: batch left join filtered
    * to `matched OR view_ts + 1 h < final watermark` — engine-exact
    * because event times are microsecond-precise on both sides.
    */
  val streamOuterJoin: Q = (s, d) => viewPurchaseJoin(s, d, "leftOuter")

  /** Streaming sessionizer via `flatMapGroupsWithState` — the custom-state
    * API whose batch twin is q46. Honest streaming semantics: a session
    * can only be emitted once it is CLOSED (a later event proved the gap);
    * each user's open tail session lives in [[org.apache.spark.sql.streaming.GroupState]]
    * across micro-batches and is never emitted on a finite input — no
    * stream can know the last session ended. StreamingSpec pins exactly
    * that contract: emitted == q45's sessions minus each user's final one.
    * Production adds an event-time timeout to flush tails once the
    * watermark passes session_end. Returns the closed sessions as a local
    * DataFrame.
    */
  def streamingSessionize(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = 30L * 60 * 1000000
    // state: the open tail session (start, lastEventTs, count)
    val closed = eventsStream(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long)], state: GroupState[(Long, Long, Long)]) =>
          val ts = it.map(_._2).toArray
          java.util.Arrays.sort(ts)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
          var open = state.getOption
          ts.foreach { t =>
            open match {
              case Some((start, prev, n)) if t - prev < gapUs =>
                open = Some((start, t, n + 1))
              case Some((start, prev, n)) =>
                out += ((uid, start, prev + gapUs, n)) // gap proven: close it
                open = Some((t, t, 1L))
              case None =>
                open = Some((t, t, 1L))
            }
          }
          open.foreach(state.update)
          out.iterator
      }
    drainToLocal(closed.toDF("user_id", "start_us", "end_us", "n_events"),
        "append") {
      _.select(col("user_id"),
          expr("timestamp_micros(start_us)").as("session_start"),
          expr("timestamp_micros(end_us)").as("session_end"), col("n_events"))
        .orderBy("user_id", "session_start")
    }._1
  }

  /** q117 — streaming CDC upsert through `foreachBatch`: the production
    * sink pattern for "stream into a keyed table" when the target format
    * has no transactional MERGE — each micro-batch folds its
    * latest-per-(user_id, event_type) rows into the previous state version
    * and publishes a NEW immutable state directory (the poor-man's Delta
    * commit: readers never observe a half-written table; a replayed batch
    * rewrites its own version from its own predecessor, the
    * [[foldVersions]] rule).
    *
    * The source is staged into several files and throttled with
    * maxFilesPerTrigger so AvailableNow genuinely produces MULTIPLE
    * micro-batches — the cross-batch merge is the thing under test; a
    * single-batch drain would never exercise the state fold. The converged
    * state is q91's batch answer by construction (latest-per-key is
    * associative: fold(latest) over any batch split equals latest over the
    * union), which is exactly the equivalence the oracle checks.
    *
    * Scale shape: each micro-batch costs one keyed shuffle of (state ∪
    * batch) — state re-read per batch is the price of plain parquet; a
    * real deployment swaps the state table for Delta/Iceberg MERGE keyed
    * the same way, or partitions the state dir so only touched partitions
    * rewrite. The WindowGroupLimit pushdown prunes per-key history before
    * the shuffle, same as q91.
    */
  private[graft] def upsertRun(s: SparkSession, d: String,
      fixedRoot: Option[String] = None): (DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    val root = fixedRoot.getOrElse(graft.Scratch.dir("graft_stream_upsert"))
    val stream = stage(root, Tables.events(s, d).repartition(8)).stream(s, 2)
    def latest(df: DataFrame): DataFrame = {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      df.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
    }
    val (state, batches) = foldVersions(root, stream) { (batch, prev) =>
      val incoming = latest(batch)
      prev.fold(incoming)(p => latest(p.unionByName(incoming)))
    }
    (state.select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").as("latest_ts"), col("value"))
      .orderBy("user_id", "event_type"), batches)
  }

  val streamUpsert: Q = (s, d) => upsertRun(s, d)._1

  private val srkK = 64

  /** q136 — STREAMING rank sketch: per-day `value` quantiles maintained
    * across micro-batches by folding each batch's per-day bottom-k=64
    * (q132's deterministic hash-ordered compaction) into the prior state
    * and RECOMPACTING — which is sound precisely because bottom-k under
    * the (hash, value) total order has EXACT merge identity: the
    * converged state equals the batch-mode sketch over the whole table no
    * matter how the stream was cut into micro-batches, so the query
    * shares q133's oracle shape verbatim. This is the property that makes
    * the sketch STREAMABLE — a KLL-style randomized compactor would only
    * agree in distribution, and batch boundaries would leak into the
    * answer. Per-day exact counts sum-merge alongside (associative, like
    * q117's latest-per-key). State footprint: ≤ k rows per day, each
    * carrying the day's count, whatever the event volume; each micro-batch
    * costs one keyed window over (state ∪ batch-partial), both already
    * ≤ k per day. StreamingSpec pins multi-batch folding and stream≡batch sketch
    * identity.
    */
  private[graft] def streamRankRun(s: SparkSession, d: String,
      fixedRoot: Option[String] = None): (DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    val root = fixedRoot.getOrElse(graft.Scratch.dir("graft_stream_rank"))
    val stream = stage(root, Tables.events(s, d).repartition(8)).stream(s, 2)
    val w = Window.partitionBy("day").orderBy("hh", "v")
    def compact(df: DataFrame): DataFrame = df
      .withColumn("sn", row_number().over(w)).filter(col("sn") <= srkK)
      .drop("sn")
    // state: each day's bottom-k sample rows, every row carrying the day's
    // running event count n (a day with events always keeps ≥ 1 sample row)
    val (state, batches) = foldVersions(root, stream) { (batch, prev) =>
      val incoming = batch.select(
        to_date(col("ts")).as("day"), col("value").as("v"),
        md5(col("event_id").cast("string")).as("hh"))
      val incCounts = incoming.groupBy("day").agg(count(lit(1)).as("n"))
      val (sample, counts) = prev match {
        case Some(p) =>
          (compact(p.select("day", "v", "hh").unionByName(compact(incoming))),
           p.select("day", "n").distinct().unionByName(incCounts)
             .groupBy("day").agg(sum("n").as("n")))
        case None => (compact(incoming), incCounts)
      }
      sample.join(counts, "day")
    }
    val out = state
      .withColumn("r", row_number()
        .over(Window.partitionBy("day").orderBy("v")).cast("long"))
      .withColumn("m", least(lit(srkK.toLong), col("n")))
      .groupBy("day").agg(
        max("n").as("n_events"),
        min(when(col("r") === expr("(m + 1) div 2"), col("v"))).as("est_p50"),
        min(when(col("r") === expr("(m * 9 + 9) div 10"), col("v"))).as("est_p90"))
      .orderBy("day")
    (out, batches)
  }

  val streamRankSketch: Q = (s, d) => streamRankRun(s, d)._1

  /** Capacity of the streaming Misra–Gries state (q147). */
  private val shhK = 15

  /** q147 — STREAMING heavy hitters: the Misra–Gries summary maintained
    * across micro-batches. Each batch's EXACT key counts are themselves a
    * zero-error MG summary, so folding them into the prior state with the
    * mergeable-summaries rule (sum counters; if > K keys survive,
    * subtract the (K+1)-th largest count from all and truncate) keeps the
    * state ≤ [[shhK]] rows with total error ≤ n/(K+1) after ANY batch
    * cut — the same Agarwal et al. merge [[graft.functions.MgCandidates]]
    * runs inside a single aggregate, here expressed as a per-batch
    * DECLARATIVE plan (union → hash aggregate → bounded subtract) over
    * state that never exceeds K + batch-distinct rows. The converged
    * candidates therefore contain every key above the n/16 line however
    * the stream was sliced; the final answer exact-verifies candidates
    * against the staged source (q142's candidate-then-verify discipline),
    * so batch boundaries cannot leak into the output. The subtraction
    * constant is read from a ≤ K+1-row bounded collect — driver-side by
    * design, like every foreachBatch orchestration step. Key stream:
    * click/view are the two hot keys (~20% each), user_id mod 50 the
    * ~1.2% cold tail — 52 distinct keys through a 15-counter state.
    */
  private[graft] def streamHeavyRun(s: SparkSession, d: String)
      : (DataFrame, Long, Long) = {
    val root = graft.Scratch.dir("graft_stream_hh")
    val src = stage(root, Tables.events(s, d).repartition(8))
    def keyOf(df: DataFrame): DataFrame = df.select(
      when(col("event_type").isin("click", "view"),
        concat(lit("hot_"), col("event_type")))
        .otherwise(concat(lit("u"), col("user_id") % 50)).as("hh_key"))
    val (state, batches) = foldVersions(root, src.stream(s, 2)) { (batch, prev) =>
      val incoming = keyOf(batch).groupBy("hh_key")
        .agg(count(lit(1)).as("cnt"))
      val summed = prev.fold(incoming)(_.unionByName(incoming))
        .groupBy("hh_key").agg(sum("cnt").as("cnt"))
      // mergeable-summaries truncation: the (K+1)-th largest count (0 if
      // fewer than K+1 keys) is debited from every counter
      val topRows = summed.orderBy(col("cnt").desc, col("hh_key"))
        .limit(shhK + 1).collect()
      val sub = if (topRows.length > shhK) topRows.last.getAs[Long]("cnt") else 0L
      summed
        .select(col("hh_key"), (col("cnt") - sub).as("cnt"))
        .filter(col("cnt") > 0)
    }
    val stateRows = state.count()
    val keyed = keyOf(src.read(s))
    val tot = keyed.agg(count(lit(1)).as("n"))
    val out = keyed
      .join(broadcast(state.select("hh_key")), Seq("hh_key"), "inner")
      .groupBy("hh_key").agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(tot))
      .filter(col("n_exact") * 16 > col("n"))
      .select(col("hh_key"), col("n_exact"),
        expr("n_exact * 10000 div n").as("share_bp"))
      .orderBy("hh_key")
    (out, batches, stateRows)
  }

  val streamHeavyHitters: Q = (s, d) => streamHeavyRun(s, d)._1

  /** q162 — STREAMING HLL cardinality: the 64-register bank maintained
    * across micro-batches by register-wise max — the fold is the sketch's
    * own merge, so the final bank is IDENTICAL to the batch bank no
    * matter where the stream was cut (max is associative-commutative),
    * the restart-idempotence argument q136 makes for bottom-k lifted to
    * the cardinality leg. Completes the streaming sketch pair: rank
    * (q136) and frequency (q147) already fold; this adds distinct-count.
    * Per batch: hash the batch's user keys to (bucket, rho), take the
    * per-bucket max, union with ≤ 64 rows of prior state, re-max. State
    * is register-bounded whatever the stream volume. Final estimate =
    * q105's alpha formula with q156's small-range linear-counting
    * switch; the exact countDistinct audit column is the cost the sketch
    * removes at 100 TB.
    */
  private[graft] def streamHllRun(s: SparkSession, d: String)
      : (DataFrame, Long, Long) = {
    val root = graft.Scratch.dir("graft_stream_hll")
    val src = stage(root, Tables.events(s, d).repartition(8))
    def regsOf(df: DataFrame): DataFrame =
      hllRanks(df, col("user_id").cast("string"))
        .groupBy("bucket").agg(max("rho").as("m"))
    val (state, batches) = foldVersions(root, src.stream(s, 2)) { (batch, prev) =>
      val incoming = regsOf(batch)
      prev.fold(incoming)(_.unionByName(incoming))
        .groupBy("bucket").agg(max("m").as("m"))
    }
    val maxState = versions(s, root).map(s.read.parquet(_).count()).max
    val full = s.range(0, hllBuckets).select(col("id").as("bucket"))
      .join(state, Seq("bucket"), "left")
      .select(coalesce(col("m"), lit(0)).as("m"))
    val sketch = full.agg(hllSInv, hllNEmpty)
    val exact = src.read(s)
      .agg(countDistinct(col("user_id")).as("n_exact"))
    val out = exact.crossJoin(broadcast(sketch))
      .select(col("n_exact"), col("n_empty"),
        expr("""CASE WHEN CAST(floor(0.709 * 4096.0 * 8589934592.0
                   / CAST(s_inv AS DOUBLE)) AS BIGINT) <= 160 AND n_empty > 0
                 THEN CAST(round(64 * ln(CAST(64 AS DOUBLE) / n_empty)) AS BIGINT)
                 ELSE CAST(floor(0.709 * 4096.0 * 8589934592.0
                   / CAST(s_inv AS DOUBLE)) AS BIGINT) END""").as("hll_est"))
    (out, batches, maxState)
  }

  val streamHll: Q = (s, d) => streamHllRun(s, d)._1

  /** q190 — STREAMING EXACT DISTINCT via mergeable BITMAP state: the exact
    * counterpart of q162's streamed HLL. Each micro-batch reduces to
    * (event_type, word = user_id div 32, bits) — q184's word-aligned
    * bitmap layout — and the foreachBatch fold is `bit_or` per (type,
    * word): idempotent AND commutative, so replays and out-of-order
    * batches cannot change the state (the same merge-identity argument as
    * the bottom-k fold, but trivially: OR is a semilattice). State is
    * bounded by types × max_user/32 words — fixed by the ID domain, not
    * the stream length — and the final popcount sum per type is EXACT, so
    * the oracle is plain COUNT(DISTINCT): no error band, no correction
    * branch. The trade vs q162: HLL state is O(64) regardless of domain;
    * the bitmap pays domain/32 words for exactness — the right choice
    * whenever user IDs are dense (the common warehouse case).
    */
  private[graft] def streamBitmapRun(s: SparkSession, d: String)
      : (DataFrame, Long, Long) = {
    val root = graft.Scratch.dir("graft_stream_bitmap")
    val stream = stage(root, Tables.events(s, d).repartition(8)).stream(s, 2)
    def bitmapOf(df: DataFrame): DataFrame =
      df.select(col("event_type"), expr("user_id div 32").as("w"),
          expr("CAST(user_id % 32 AS INT)").as("b"))
        .groupBy("event_type", "w")
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), b))").as("bits"))
    val (state, batches) = foldVersions(root, stream) { (batch, prev) =>
      val incoming = bitmapOf(batch)
      prev.fold(incoming)(_.unionByName(incoming))
        .groupBy("event_type", "w").agg(expr("bit_or(bits)").as("bits"))
    }
    val maxState = versions(s, root).map(s.read.parquet(_).count()).max
    val out = state.groupBy("event_type")
      .agg(sum(expr("bit_count(bits)")).cast("long").as("n_distinct_users"))
      .orderBy("event_type")
    (out, batches, maxState)
  }

  val streamBitmap: Q = (s, d) => streamBitmapRun(s, d)._1

  /** q212 — STREAMING OHLC bars: q175's tick→bar reduction maintained
    * incrementally across micro-batches. Every component of a candlestick
    * bar is a semilattice or a sum — high/low are max/min, volume and
    * trade count are sums, and open/close become mergeable once the
    * total-order tick key rides along in the state: min_by(open, open_tk)
    * over {state row} ∪ {batch partial} is exactly min_by over the full
    * prefix, because the argmin follows the key minimum (q175's
    * zero-padded epoch:event_id key makes that order total, so equal-µs
    * ticks fold identically in every cut of the stream). State is one row
    * per day whatever the tick volume — the q136/q147/q162/q190 state
    * bound, here for the time-series reduction — and the converged bars
    * are IDENTICAL to batch q175 however the stream was sliced
    * (restart-idempotence by exact merge, not in distribution), so the
    * two queries face one oracle. Each batch folds via one day-keyed
    * aggregate over state ∪ batch-partial; the per-batch partial itself
    * map-side combines.
    */
  private[graft] def streamOhlcRun(s: SparkSession, d: String)
      : (DataFrame, Long) = {
    val root = graft.Scratch.dir("graft_stream_ohlc")
    val stream = stage(root, Tables.events(s, d).repartition(8)).stream(s, 2)
    def partial(df: DataFrame): DataFrame = df
      .filter(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("day"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("vq"),
        concat(lpad(expr("CAST(unix_micros(ts) AS STRING)"), 20, "0"),
          lit(":"), col("event_id")).as("tk"))
      .groupBy("day")
      .agg(min("tk").as("open_tk"), min_by(col("vq"), col("tk")).as("open"),
        max("vq").as("high"), min("vq").as("low"),
        max("tk").as("close_tk"), max_by(col("vq"), col("tk")).as("close"),
        count(lit(1)).as("n_trades"), sum("vq").as("volume"))
    val (state, batches) = foldVersions(root, stream) { (batch, prev) =>
      val inc = partial(batch)
      prev.fold(inc)(_.unionByName(inc)).groupBy("day")
        .agg(min_by(col("open"), col("open_tk")).as("open_v"),
          min("open_tk").as("open_tk"),
          max("high").as("high"), min("low").as("low"),
          max_by(col("close"), col("close_tk")).as("close_v"),
          max("close_tk").as("close_tk"),
          sum("n_trades").as("n_trades"), sum("volume").as("volume"))
        .select(col("day"), col("open_tk"), col("open_v").as("open"),
          col("high"), col("low"), col("close_tk"),
          col("close_v").as("close"), col("n_trades"), col("volume"))
    }
    val out = state.select(col("day"), col("open"), col("high"), col("low"),
      col("close"), col("n_trades"), col("volume")).orderBy("day")
    (out, batches)
  }

  val streamOhlc: Q = (s, d) => streamOhlcRun(s, d)._1

  /** q275 — STREAMING SCD2 TEMPORAL ENRICHMENT: the topology between
    * q51's stream-static join (latest dimension only) and q109's batch
    * SCD2 (the dimension's history): each arriving fact joins the
    * dimension VERSION VALID AT ITS EVENT TIME — the enrichment rule
    * that keeps a backfill correct when the dimension has changed since
    * the events happened (a latest-version join silently rewrites
    * history). Orders arrive as a 4-micro-batch file stream
    * (maxFilesPerTrigger=2 over 8 staged files); the dimension is q109's
    * OWN version table staged once; per batch, ONE custkey equi-join
    * with the [valid_from, valid_to) residual (per-key version lists are
    * small, so the residual filters a few rows per key — never a range
    * cartesian), written to a batch-id-keyed dir ([[sinkBatches]]).
    * Verdicts are ROW-LOCAL (event
    * time vs a static dimension), hence micro-batch-boundary-independent
    * — so the DuckDB oracle is the plain batch temporal join, and the
    * stream/batch hash match IS the parity proof. The self-referential
    * fixture (the dim derives from the same orders) guarantees
    * exactly-once coverage: every order falls in exactly one version
    * window, which the spec asserts by mass.
    */
  private[graft] def scd2EnrichRun(s: SparkSession, d: String)
      : (DataFrame, Long) = {
    val root = graft.Scratch.dir("graft_stream_scd2")
    val stream = stage(root, Tables.orders(s, d).repartition(8)).stream(s, 2)
    val dim = graft.Scratch.stage("graft_stream_scd2_dim",
      graft.operators.Relational.scd2(s, d))
    val (enriched, batches) = sinkBatches(root, stream) { batch =>
      batch.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .join(dim, batch("o_custkey") === dim("o_custkey") &&
          batch("o_orderdate") >= dim("valid_from") &&
          (dim("valid_to").isNull || batch("o_orderdate") < dim("valid_to")))
        .select(batch("o_orderkey"), col("status"), col("is_current"),
          batch("o_totalprice"))
    }
    val out = enriched
      .groupBy("status", "is_current")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy("status", "is_current")
    (out, batches)
  }

  val streamScd2Enrich: Q = (s, d) => scd2EnrichRun(s, d)._1

  /** q285 — STREAMING ORDERED FUNNEL via flatMapGroupsWithState: q282's
    * view → click → purchase state machine run as a per-user GroupState
    * across genuine micro-batches — the pattern-detection topology
    * (CEP / MATCH_RECOGNIZE's simplest useful case) the sessionizer
    * family doesn't cover: state is the user's step timestamps
    * (t1, t2, t3), transitions fire on the SAME strict-after + 7-day
    * rules as the batch operator, and each step advances AT MOST ONCE
    * per user — so Append-mode emissions are monotone step-advancement
    * records (≤ 3 per user, ever) and the final aggregate folds them
    * into q282's exact output shape. The batch funnel IS the oracle
    * (shared SQL, the q105/q126 discipline): stream ≡ batch is the
    * parity proof.
    *
    * Honest semantics: exactness requires PER-KEY IN-ORDER arrival (what
    * Kafka gives within a partition key) — a later-arriving EARLIER view
    * would retroactively re-base the funnel, which bounded (t1, t2, t3)
    * state cannot replay; production handles true disorder by buffering
    * until the watermark passes (unbounded-per-user state) or accepting
    * arrival-order funnels. The harness therefore stages the source as 8
    * ts-RANGE files with explicitly increasing modification times (the
    * file source processes oldest-first), throttled to 2 files per
    * trigger → 4 genuine micro-batches with cross-batch state carry,
    * which StreamingSpec pins alongside stream ≡ batch equality.
    */
  /** The events table staged as 8 ts-range files in ts order
    * ([[stageOrdered]]) — the file-source replay harness shared by
    * q285/q294/q312/q340: arrival order = event-time order, the per-key
    * in-order contract their state machines document. Columns: (event_id,
    * user_id, event_type, t = unix_micros(ts)). Memoized per input dir
    * ([[graft.Scratch.PerDir]]): the staged files are read-only source
    * input and each streaming query keeps its OWN checkpoint, so sharing
    * one staging saves a full events scan + 8 writes per additional
    * streaming query per run.
    */
  private val eventRangesCache = new graft.Scratch.PerDir[Staged]

  private[graft] def stageEventRanges(s: SparkSession, d: String): Staged =
    eventRangesCache(d) {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("t"))
      val bounds = ev.agg(min("t"), max("t")).head()
      val (tLo, tHi) = (bounds.getLong(0), bounds.getLong(1))
      stageOrdered(graft.Scratch.dir("graft_stream_src"), (0 until 8).map { i =>
        val lo = tLo + (tHi - tLo + 1) * i / 8
        val hi = tLo + (tHi - tLo + 1) * (i + 1) / 8
        ev.filter(col("t") >= lo && col("t") < hi)
      })
    }

  private[graft] def streamFunnelRun(s: SparkSession, d: String)
      : (DataFrame, Long) = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val win = graft.operators.Events.funnelWindowUs
    val advances = stageEventRanges(s, d).stream(s, 2)
      .select(col("user_id"), col("event_type"), col("t"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Int, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, String, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          // in-batch sort by (ts, type): outcomes only depend on strict
          // ts comparisons, the sort just makes the fold deterministic
          val evs = it.toArray.sortBy(e => (e._3, e._2))
          // -1L = "step not reached": timestamps are nonnegative micros,
          // so an epoch-start event (t = 0) advances the funnel exactly
          // like the batch operator — 0L as the sentinel would drop it
          // (advisor r12 finding)
          var (t1, t2, t3) = state.getOption.getOrElse((-1L, -1L, -1L))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
          evs.foreach { case (_, tpe, t) =>
            tpe match {
              case "view" if t1 == -1L =>
                t1 = t; out += ((uid, 1, t, t))
              case "click" if t1 != -1L && t2 == -1L && t > t1 && t <= t1 + win =>
                t2 = t; out += ((uid, 2, t, t1))
              case "purchase" if t2 != -1L && t3 == -1L && t > t2 && t <= t2 + win =>
                t3 = t; out += ((uid, 3, t, t2))
              case _ => ()
            }
          }
          state.update((t1, t2, t3))
          out.iterator
      }
    drainToLocal(advances.toDF("user_id", "step", "t", "t_prev"), "append") {
        adv =>
      val j = adv.filter(col("step") === 1).agg(count(lit(1)).as("n1"))
        .crossJoin(adv.filter(col("step") === 2)
          .agg(count(lit(1)).as("n2"),
            sum((col("t") - col("t_prev")).cast("decimal(38,0)")).as("l2")))
        .crossJoin(adv.filter(col("step") === 3)
          .agg(count(lit(1)).as("n3"),
            sum((col("t") - col("t_prev")).cast("decimal(38,0)")).as("l3")))
      graft.operators.Events.funnelReport(j)
    }
  }

  val streamFunnel: Q = (s, d) => streamFunnelRun(s, d)._1

  /** q294 — STREAMING MULTI-TOUCH ATTRIBUTION via
    * flatMapGroupsWithState: q292's per-channel credit ledger run as a
    * per-user state machine across genuine micro-batches — the
    * real-time marketing dashboard topology. State is the user's touch
    * keys (q292's exact lpad-ts:event_id:type strings, so first/last
    * resolve by the SAME lexicographic comparison as the batch
    * min/max), evicted once older than 7 days behind the newest event
    * (per-key in-order arrival, q285's documented contract, makes that
    * eviction safe: no future purchase can need them). Each purchase
    * emits its closed-form per-channel credit rows — integer ppm with
    * the remainder-to-first rule, byte-identical math to the batch
    * operator — and the final aggregate folds them into q292's exact
    * output shape. The batch report IS the oracle (shared SQL verbatim,
    * the q282/q285 discipline): stream ≡ batch is the parity proof, and
    * StreamingSpec pins it across ≥ 4 micro-batches with state carry.
    */
  private[graft] def streamAttributionRun(s: SparkSession, d: String)
      : (DataFrame, Long) = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val win = 7L * 86400L * 1000000L
    val credits = stageEventRanges(s, d).stream(s, 2)
      .select(col("user_id"), col("event_id"), col("event_type"), col("t"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[String],
        (String, Long, Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[(Long, Long, String, Long)],
         state: GroupState[List[String]]) =>
          // in-batch sort by (ts, event_id): outcomes depend only on ts
          // comparisons, the sort just makes the fold deterministic
          val evs = it.toArray.sortBy(e => (e._4, e._2))
          var touches = state.getOption.getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Long, Long, Long)]
          evs.foreach { case (_, eid, tpe, t) =>
            if (tpe == "purchase") {
              // the batch RANGE frame [t-7d, t-1]: strictly before the
              // purchase, within the lookback
              val inWin = touches.filter { tk =>
                val ts = tk.substring(0, 20).toLong
                ts >= t - win && ts < t
              }
              val n = inWin.size.toLong
              if (n == 0)
                out += (("(none)", 1L, 1000000L, 1000000L, 1000000L,
                  1000000L))
              else {
                val fty = inWin.min.split(":")(2)
                val lty = inWin.max.split(":")(2)
                inWin.groupBy(_.split(":")(2)).foreach { case (ch, g) =>
                  val nCh = g.size.toLong
                  val first = if (fty == ch) 1000000L else 0L
                  val last = if (lty == ch) 1000000L else 0L
                  val linear = (1000000L / n) * nCh +
                    (if (fty == ch) 1000000L % n else 0L)
                  val ushape =
                    if (n == 1) { if (fty == ch) 1000000L else 0L }
                    else if (n == 2)
                      (if (fty == ch) 500000L else 0L) +
                        (if (lty == ch) 500000L else 0L)
                    else
                      (if (fty == ch) 400000L + 200000L % (n - 2)
                       else 0L) +
                        (if (lty == ch) 400000L else 0L) +
                        (200000L / (n - 2)) *
                          (nCh - (if (fty == ch) 1L else 0L) -
                            (if (lty == ch) 1L else 0L))
                  out += ((ch, nCh, first, last, linear, ushape))
                }
              }
            } else if (tpe == "view" || tpe == "click" || tpe == "signup")
              // %020d matches the batch lpad(...,20,'0') ONLY for t ≥ 0
              // (epoch-micros are nonnegative by the events fixture
              // contract; a pre-epoch ts would also break the batch
              // operator's own lexicographic key the same way).
              // Same-microsecond ties order by the UNPADDED event-id
              // STRING ("10" < "9") — the deliberate convention SHARED
              // with q292's batch key (Events.convTouches): identical
              // strings on both sides is what makes batch ≡ stream
              // exact, so never "fix" the ordering on one side only.
              touches = (f"$t%020d" + ":" + eid + ":" + tpe) :: touches
            // evict touches no future event (in-order ⇒ ts ≥ t) can see
            touches = touches.filter(_.substring(0, 20).toLong >= t - win)
          }
          state.update(touches)
          out.iterator
      }
    drainToLocal(credits.toDF("channel", "n_ch", "first_ppm", "last_ppm",
        "linear_ppm", "ushape_ppm"), "append") {
      graft.operators.Events.creditLedger(_, col("channel"))
    }
  }

  val streamAttribution: Q = (s, d) => streamAttributionRun(s, d)._1

  /** q312 — STREAMING SPRT via flatMapGroupsWithState: q309's
    * always-valid sequential monitor run AS a stream — the operator's
    * natural home, since the whole point of Wald's test is deciding
    * DURING collection, and the streaming form holds exactly the
    * 5-long state the theory says suffices: (llr, trials, successes,
    * crossing idx, crossing llr), cidx = −1L the undecided sentinel
    * (the q147 convention). Once decided, the crossing point LATCHES
    * while totals keep folding — matching the batch report, which
    * carries whole-stream totals alongside the decision point. Same
    * md5 arms and plan-time integer µnat constants as q309 (imported,
    * not re-derived), same ts-range staged source as q285/q294
    * (oldest-first arrival = event-time order; within a micro-batch
    * the fold sorts by (t, event_id)), so the walk IS the batch walk —
    * stream ≡ batch proven on q309's oracle verbatim, ≥ 4 genuine
    * micro-batches with state carry pinned in StreamingSpec. Each
    * invocation emits one snapshot row per arm; the final report keeps
    * each arm's last snapshot (max n — strictly increasing, so the
    * max-struct pick is deterministic) and derives the decision
    * columns.
    */
  private[graft] def streamSprtRun(s: SparkSession, d: String)
      : (DataFrame, Long) = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val incS = graft.operators.Stats.sprtIncS
    val incF = graft.operators.Stats.sprtIncF
    val bound = graft.operators.Stats.sprtBound
    val snaps = stageEventRanges(s, d).stream(s, 2)
      .select(graft.functions.Hashing.md5Bucket(col("user_id"), 2).as("arm"),
        col("event_id"), col("event_type"), col("t"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Long, Long),
        (Long, Long, Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (arm: Long, it: Iterator[(Long, Long, String, Long)],
         state: GroupState[(Long, Long, Long, Long, Long)]) =>
          val evs = it.toArray.sortBy(e => (e._4, e._2))
          var (llr, n, nS, cidx, cllr) =
            state.getOption.getOrElse((0L, 0L, 0L, -1L, 0L))
          evs.foreach { case (_, _, tpe, _) =>
            n += 1
            if (tpe == "purchase") { nS += 1; llr += incS }
            else llr += incF
            if (cidx == -1L && (llr >= bound || llr <= -bound)) {
              cidx = n; cllr = llr
            }
          }
          state.update((llr, n, nS, cidx, cllr))
          Iterator((arm, llr, n, nS, cidx, cllr))
      }
    drainToLocal(snaps.toDF("arm", "llr", "n", "n_succ", "cidx", "cllr"),
        "append") {
      _.groupBy("arm")
        .agg(max(struct(col("n"), col("llr"), col("n_succ"), col("cidx"),
          col("cllr"))).as("m"))
        .select(col("arm"), col("m.n").as("n_trials"),
          col("m.n_succ").as("n_success"),
          expr(s"""CASE WHEN m.cidx = -1 THEN 'continue'
                  WHEN m.cllr >= $bound THEN 'accept_h1'
                  ELSE 'accept_h0' END""").as("decision"),
          expr("CASE WHEN m.cidx = -1 THEN m.n ELSE m.cidx END")
            .as("n_at_decision"),
          expr("CASE WHEN m.cidx = -1 THEN m.llr ELSE m.cllr END")
            .as("llr_micro"))
        .orderBy("arm")
    }
  }

  val streamSprt: Q = (s, d) => streamSprtRun(s, d)._1

  /** q340 — STREAMING SAMPLE-RATIO-MISMATCH GUARDRAIL: q331's
    * per-assignment-day SRM audit run AS a stream — where the guardrail
    * actually lives in production, because a broken bucketing deploy
    * must page someone TODAY, not at the post-experiment readout. The
    * stateful core is first-sight user dedup (flatMapGroupsWithState
    * keyed by user, one Boolean per user — the q50 dedup-state class;
    * a watermark would bound it in a true 24/7 deployment): the staged
    * oldest-first event-time source (q285/q294/q312's ranges, within a
    * micro-batch the min-(t, event_id) pick) makes the first arrival
    * the user's true min-day, so each user emits exactly ONE
    * (user, first-day) row. The report is then q331's rollup verbatim
    * — per-day χ² + the ALL row — and shares q331's DuckDB oracle
    * (the q282/q285/q299 stream ≡ batch discipline), so the tri-scale
    * hash match proves the streaming dedup reconstructs the batch
    * min() exactly; StreamingSpec pins ≥ 4 genuine micro-batches and
    * state carry.
    */
  private[graft] def streamSrmRun(s: SparkSession, d: String)
      : (DataFrame, Long) = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val firsts = stageEventRanges(s, d).stream(s, 2)
      .select(col("user_id"), col("t"), col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (u: Long, it: Iterator[(Long, Long, Long)],
         state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            val first = it.minBy(e => (e._2, e._3))
            state.update(true)
            Iterator((u, first._2))
          }
      }
    drainToLocal(firsts.toDF("user_id", "t_first"), "append") { firstSeen =>
      graft.operators.Stats.srmReport(firstSeen.select(
        graft.functions.Hashing.md5Bucket(col("user_id"), 2).as("arm"),
        expr("to_date(timestamp_micros(t_first))").as("d0")))
    }
  }

  val streamSrm: Q = (s, d) => streamSrmRun(s, d)._1

  /** q299 — STREAMING MERKLE MAINTENANCE via foreachBatch: q295's
    * delta-update run as a CDC consumer — the q281/q295 change set
    * arrives as 4 ordered delta files (3 keys per micro-batch), and
    * each batch folds its (new_dg − old_dg, Δrows) contributions into
    * the stored tree (read current version, broadcast-join the
    * batch's ≤ 3-leaf delta, write the next version — the q117
    * foreachBatch-upsert discipline on a 273-row metadata table). The
    * mod-p digest's additivity is what makes per-batch folding compose:
    * four partial updates ≡ one batch update ≡ a from-scratch rebuild.
    * Output joins the ORIGINAL stored tree against the final version —
    * q295's exact shape — and shares q295's DuckDB oracle verbatim
    * (the q282/q285 discipline), so the tri-scale hash match proves
    * stream ≡ incremental ≡ full; StreamingSpec pins ≥ 4 genuine
    * micro-batches and row-identity against q295 itself.
    */
  private[graft] def streamMerkleRun(s: SparkSession, d: String)
      : (DataFrame, Long) = {
    import graft.operators.Storage
    val root = graft.Scratch.dir("graft_stream_merkle")
    val origDir = Storage.merkleTreeDir(s, d)
    val (tree, batches) = foldVersions(root,
        merkleChanges(s, d, root).stream(s, 1), init = Some(origDir)) {
      (batch, prev) =>
        // the ONE shared delta algebra (Storage.merkleDeltaLevels) —
        // a local copy here would let the two folds drift apart and
        // silently break the stream ≡ incremental identity
        val allDelta = Storage.merkleDeltaLevels(batch)
        prev.get
          .join(broadcast(allDelta), Seq("level", "node"), "left")
          .select(col("level"), col("node"),
            pmod(col("digest") + coalesce(col("ddg"), lit(0L)),
              lit(Storage.merkleP)).as("digest"),
            (col("n_rows") + coalesce(col("dn"), lit(0L))).as("n_rows"))
    }
    val fin = tree.withColumnsRenamed(
      Map("digest" -> "digest_new", "n_rows" -> "n_rows_new"))
    val out = graft.Scratch.read(s, origDir).withColumnsRenamed(
        Map("digest" -> "digest_old", "n_rows" -> "n_rows_old"))
      .join(fin, Seq("level", "node"))
      .select(col("level"), col("node"), col("digest_old"),
        col("n_rows_old"), col("digest_new"), col("n_rows_new"))
      .withColumn("dirty", col("digest_old") =!= col("digest_new") ||
        col("n_rows_old") =!= col("n_rows_new"))
      .orderBy(col("level").desc, col("node"))
    (out, batches)
  }

  val streamMerkle: Q = (s, d) => streamMerkleRun(s, d)._1

  /** q299's change set (q281/q295's) staged as 4 ordered delta files of 3
    * keys each ([[stageOrdered]]).
    */
  private[graft] def merkleChanges(s: SparkSession, d: String,
      root: String): Staged = {
    import graft.operators.Storage
    val keyed = Storage.merkleKeyed(s, d)
    val changes = keyed.join(broadcast(Storage.merkleRanked(keyed)), Seq("key"))
      .select(col("key"), col("cents"),
        when(col("rn") <= 6, expr("cents * 21 div 20")).as("new_cents"),
        col("rn"))
    stageOrdered(root, (0 until 4).map(i =>
      changes.filter(col("rn") > i * 3 && col("rn") <= (i + 1) * 3).drop("rn")))
  }

  def queries: Map[String, Q] = Map(
    "q294_stream_attribution" -> streamAttribution,
    "q312_stream_sprt" -> streamSprt,
    "q340_stream_srm" -> streamSrm,
    "q299_stream_merkle" -> streamMerkle,
    "q285_stream_funnel" -> streamFunnel,
    "q275_stream_scd2_enrich" -> streamScd2Enrich,
    "q212_stream_ohlc" -> streamOhlc,
    "q190_stream_bitmap" -> streamBitmap,
    "q162_stream_hll" -> streamHll,
    "q117_stream_upsert" -> streamUpsert,
    "q136_stream_rank_sketch" -> streamRankSketch,
    "q147_stream_heavy_hitters" -> streamHeavyHitters,
    "q39_stream_tumbling" -> streamTumbling,
    "q50_stream_dedup" -> streamDedup,
    "q51_stream_static_join" -> streamStaticJoin,
    "q68_stream_stream_join" -> streamStreamJoin,
    "q104_stream_outer_join" -> streamOuterJoin)

  def oracles: Map[String, String] = Map(
    // the batch funnel's own oracle VERBATIM (the q105/q126 shared-oracle
    // discipline): per-key in-order arrival makes the streaming state
    // machine's verdicts equal the batch min-per-step joins, so the
    // stream/batch hash match is the parity proof
    "q285_stream_funnel" ->
      graft.operators.Events.oracles("q282_funnel_steps"),
    "q294_stream_attribution" ->
      graft.operators.Events.oracles("q292_multi_touch"),
    "q312_stream_sprt" ->
      graft.operators.Stats.oracles("q309_sprt"),
    "q340_stream_srm" ->
      graft.operators.Stats.oracles("q331_srm_audit"),
    "q299_stream_merkle" ->
      graft.operators.Storage.oracles("q295_merkle_maintain"),
    // the plain batch temporal join: q109's version chain + the identical
    // [valid_from, valid_to) residual — row-local verdicts make the
    // stream/batch hash match the parity proof
    "q275_stream_scd2_enrich" ->
      s"""WITH ${OracleSql.scd2Changes},
         |ver AS MATERIALIZED (SELECT o_custkey,
         |    o_orderstatus AS status,
         |    o_orderdate AS valid_from,
         |    lead(o_orderdate) OVER w AS valid_to,
         |    CASE WHEN lead(o_orderdate) OVER w IS NULL THEN 1 ELSE 0 END
         |      AS is_current
         |  FROM chg
         |  WINDOW w AS (PARTITION BY o_custkey
         |    ORDER BY o_orderdate, o_orderkey)),
         |enr AS (SELECT v.status, v.is_current, o.o_totalprice
         |  FROM orders o JOIN ver v ON o.o_custkey = v.o_custkey
         |    AND o.o_orderdate >= v.valid_from
         |    AND (v.valid_to IS NULL OR o.o_orderdate < v.valid_to))
         |SELECT status, is_current, count(*) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |    AS total_price
         |FROM enr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // exact merge ⇒ the streamed bars equal batch q175's — one oracle
    // (Events.scala's q175 SQL verbatim) serves both formulations
    "q212_stream_ohlc" -> OracleSql.ohlcQuery,
    // the bitmap fold is exact, so the streamed answer must equal plain
    // COUNT(DISTINCT) — the strongest oracle a streaming distinct can have
    "q190_stream_bitmap" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS n_distinct_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the fold is the sketch's own merge, so the streamed bank must equal
    // the direct batch bank — the oracle computes registers in one pass
    "q162_stream_hll" ->
      """WITH h AS (
        |  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 64 AS bucket,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8))::BIGINT AS w
        |  FROM events),
        |r AS (SELECT bucket,
        |    max(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS m
        |  FROM h GROUP BY 1),
        |allb AS (SELECT COALESCE(r.m, 0) AS m
        |  FROM (SELECT unnest(range(0, 64)) AS bucket) b
        |  LEFT JOIN r ON b.bucket = r.bucket),
        |sk AS (SELECT
        |    CAST(sum(CAST(power(2, 33 - m) AS BIGINT)) AS BIGINT) AS s_inv,
        |    CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty
        |  FROM allb),
        |ex AS (SELECT count(DISTINCT user_id) AS n_exact FROM events)
        |SELECT ex.n_exact, sk.n_empty,
        |  CASE WHEN CAST(floor(0.709::DOUBLE * 4096 * 8589934592 / s_inv)
        |        AS BIGINT) <= 160 AND n_empty > 0
        |    THEN CAST(round(64 * ln(64::DOUBLE / n_empty)) AS BIGINT)
        |    ELSE CAST(floor(0.709::DOUBLE * 4096 * 8589934592 / s_inv)
        |      AS BIGINT) END AS hll_est
        |FROM ex CROSS JOIN sk""".stripMargin,
    // candidate-then-verify makes the streamed answer the EXACT heavy
    // hitters of the whole stream — the oracle computes them directly
    "q147_stream_heavy_hitters" ->
      """WITH keyed AS (SELECT CASE
        |    WHEN event_type IN ('click', 'view') THEN 'hot_' || event_type
        |    ELSE 'u' || (user_id % 50) END AS hh_key FROM events),
        |tot AS (SELECT count(*) AS n FROM keyed),
        |cnt AS (SELECT hh_key, count(*) AS n_exact FROM keyed GROUP BY 1)
        |SELECT hh_key, n_exact, n_exact * 10000 // n AS share_bp
        |FROM cnt, tot WHERE n_exact * 16 > n
        |ORDER BY hh_key""".stripMargin,
    // the converged stream fold IS the batch-mode sketch (exact merge
    // identity of hash-ordered bottom-k) — the oracle computes it batch
    "q136_stream_rank_sketch" ->
      """WITH h AS (SELECT CAST(ts AS DATE) AS day, value AS v,
        |    md5(CAST(event_id AS VARCHAR)) AS hh
        |  FROM events),
        |samp AS (SELECT day, v FROM (
        |    SELECT day, v,
        |      row_number() OVER (PARTITION BY day ORDER BY hh, v) AS sn
        |    FROM h) WHERE sn <= 64),
        |ranked AS (SELECT day, v,
        |    row_number() OVER (PARTITION BY day ORDER BY v) AS r
        |  FROM samp),
        |sizes AS (SELECT day, count(*) AS n FROM h GROUP BY 1),
        |j AS (SELECT r.day, r.v, r.r, s.n, least(64, s.n) AS m
        |  FROM ranked r JOIN sizes s ON r.day = s.day)
        |SELECT day, max(n) AS n_events,
        |  min(CASE WHEN r = (m + 1) // 2 THEN v END) AS est_p50,
        |  min(CASE WHEN r = (m * 9 + 9) // 10 THEN v END) AS est_p90
        |FROM j GROUP BY day ORDER BY day""".stripMargin,
    // the converged upsert state IS the batch latest-per-key (q91's SQL):
    // folding latest() across micro-batches equals latest() over the union
    "q117_stream_upsert" -> OracleSql.latestPerKeyQuery,
    // identical semantics to q22 — same oracle
    "q39_stream_tumbling" ->
      """SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start,
        | event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q50_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "q51_stream_static_join" ->
      """SELECT c_nationkey, event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY c_nationkey, event_type""".stripMargin,
    // the batch twin of the stream-stream join: inner join ⇒ identical rows
    "q68_stream_stream_join" ->
      """SELECT l.event_id AS view_id, r.event_id AS purchase_id,
        | l.user_id AS user_id,
        | date_diff('microsecond', l.ts, r.ts) AS gap_us
        |FROM events l JOIN events r
        |ON l.user_id = r.user_id
        | AND l.event_type = 'view' AND r.event_type = 'purchase'
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
        |ORDER BY view_id, purchase_id""".stripMargin,
    // batch twin + the outer-emission bound: unmatched views appear only
    // when the final watermark (min of both streams' max ts − 1 h) proved
    // no future purchase can match
    "q104_stream_outer_join" ->
      """WITH wm AS (
        |  SELECT least(
        |    (SELECT max(ts) FROM events WHERE event_type = 'view'),
        |    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        |    - INTERVAL 1 HOUR AS w),
        |j AS (
        |  SELECT l.event_id AS view_id, r.event_id AS purchase_id,
        |    l.user_id AS user_id, l.ts AS view_ts,
        |    date_diff('microsecond', l.ts, r.ts) AS gap_us
        |  FROM (SELECT * FROM events WHERE event_type = 'view') l
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id
        |   AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR)
        |SELECT view_id, purchase_id, user_id, gap_us
        |FROM j CROSS JOIN wm
        |WHERE purchase_id IS NOT NULL OR view_ts + INTERVAL 1 HOUR < w
        |ORDER BY view_id, purchase_id NULLS FIRST""".stripMargin)
}
