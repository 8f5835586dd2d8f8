package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpec {

  test("q275 SCD2 enrichment: genuinely multi-batch, every order matched exactly once, equals the batch temporal join") {
    val (rep, batches) = graft.streaming.StreamingJobs.scd2EnrichRun(spark, sf)
    assert(batches === 4L, "8 staged files at maxFilesPerTrigger=2")
    val rows = rep.collect()
    // exactly-once coverage: the version windows tile each customer's
    // timeline, so the enriched mass equals the order count
    val total = graft.sources.Tables.orders(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum === total)
    // batch twin computed directly in Spark — the stream must agree
    val dim = graft.operators.Relational.scd2(spark, sf)
    val o = graft.sources.Tables.orders(spark, sf)
    val batch = o.join(dim, o("o_custkey") === dim("o_custkey") &&
        o("o_orderdate") >= dim("valid_from") &&
        (dim("valid_to").isNull || o("o_orderdate") < dim("valid_to")))
      .groupBy("status", "is_current").agg(count(lit(1)).as("n_orders"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    rows.foreach { r =>
      assert(batch((r.getString(0), r.getInt(1))) === r.getAs[Long]("n_orders"))
    }
  }

  test("streaming tumbling window equals the batch q22 result (parity)") {
    val batch = q("q22_window_tumbling").collect().map(_.toSeq).toSet
    val stream = q("q39_stream_tumbling").collect().map(_.toSeq).toSet
    assert(stream === batch)
  }

  test("watermark + append mode: windowed aggregation emits closed windows") {
    val events = graft.sources.Tables.events(spark, sf)
    val schema = events.schema
    val dir = java.nio.file.Files.createTempDirectory("graftstream").toString
    events.write.mode("overwrite").parquet(s"$dir/in")
    val agg = spark.readStream.schema(schema).parquet(s"$dir/in")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val qy = agg.writeStream.outputMode("append").format("memory")
      .queryName("wm_out").trigger(Trigger.AvailableNow()).start()
    qy.awaitTermination()
    // append mode withholds windows not yet past the watermark: strictly
    // fewer or equal groups than the complete-mode batch result
    val emitted = spark.table("wm_out").count()
    val total = q("q22_window_tumbling").count()
    assert(emitted > 0 && emitted <= total)
  }

  test("built-in session_window (q45), typed flatMapGroups (q46) and secondary sort (q53) agree") {
    val a = q("q45_session_windows").collect().map(_.toSeq).toSet
    val b = q("q46_stateful_sessions").collect().map(_.toSeq).toSet
    val c = q("q53_sorted_sessions").collect().map(_.toSeq).toSet
    assert(a === b)
    assert(a === c)
  }

  test("flatMapGroupsWithState sessionizer emits exactly the closed sessions") {
    // closed = every q45 session except each user's final (still-open) one
    val all = q("q45_session_windows").collect().map(_.toSeq)
    val lastPerUser = all.groupBy(_.head).view.mapValues(_.maxBy(
      r => r(1).asInstanceOf[java.sql.Timestamp].getTime)).toMap
    val wantClosed = all.filterNot(r => lastPerUser(r.head) == r).toSet
    val got = graft.streaming.StreamingJobs.streamingSessionize(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(got === wantClosed)
  }

  test("streaming dedup (q50) equals batch DISTINCT (parity)") {
    val batch = graft.sources.Tables.events(spark, sf)
      .select("user_id", "event_type").distinct()
      .collect().map(_.toSeq).toSet
    val stream = q("q50_stream_dedup").collect().map(_.toSeq).toSet
    assert(stream === batch)
  }

  test("stream-static enrichment join (q51) equals the batch join-aggregate (parity)") {
    import graft.functions.Exact._
    val batch = graft.sources.Tables.events(spark, sf)
      .join(graft.sources.Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_nationkey")),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .collect().map(_.toSeq).toSet
    val stream = q("q51_stream_static_join").collect().map(_.toSeq).toSet
    assert(stream === batch)
  }

  test("stream-stream join (q68) equals the batch time-range join (parity)") {
    val e = graft.sources.Tables.events(spark, sf)
    val l = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("vts"))
    val r = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("uid2"), col("event_id").as("purchase_id"),
        col("ts").as("pts"))
    val batch = l.join(r,
        col("user_id") === col("uid2") && col("pts") >= col("vts") &&
          col("pts") <= col("vts") + expr("INTERVAL 1 HOUR"))
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        (unix_micros(col("pts")) - unix_micros(col("vts"))).as("gap_us"))
      .collect().map(_.toSeq).toSet
    val stream = q("q68_stream_stream_join").collect().map(_.toSeq).toSet
    assert(stream.nonEmpty)
    assert(stream === batch)
  }

  test("outer stream-stream join (q104): matched rows are q68, nulls only past the watermark") {
    val rows = q("q104_stream_outer_join").collect()
    val matched = rows.filter(!_.isNullAt(1)).map(_.toSeq).toSet
    val inner = q("q68_stream_stream_join").collect().map(_.toSeq).toSet
    assert(matched === inner, "matched subset must equal the inner join")
    // unmatched views emit with BOTH purchase_id and gap_us null, and only
    // once the final watermark proved no future purchase can match
    val e = graft.sources.Tables.events(spark, sf)
    val finalWmUs = e.filter(col("event_type").isin("view", "purchase"))
      .groupBy("event_type").agg(max(unix_micros(col("ts"))).as("m"))
      .collect().map(_.getLong(1)).min - 3600L * 1000000
    val viewTs = e.filter(col("event_type") === "view")
      .select(col("event_id"), unix_micros(col("ts")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unmatched = rows.filter(_.isNullAt(1))
    assert(unmatched.nonEmpty, "fixture must contain expired unmatched views")
    unmatched.foreach { r =>
      assert(r.isNullAt(3), "gap must be null when no purchase matched")
      assert(viewTs(r.getLong(0)) + 3600L * 1000000 < finalWmUs,
        s"view ${r.getLong(0)} emitted before its state could be evicted")
    }
  }

  test("foreachBatch upsert (q117): multi-batch fold converges to batch latest-per-key") {
    val (state, batches) = graft.streaming.StreamingJobs.upsertRun(spark, sf)
    // 8 staged files at 2 per trigger: the fold must actually cross batches
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
    val got = state.collect().map(r =>
      (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getTimestamp(3))).toMap
    val want = q("q91_latest_per_key").collect().map(r =>
      (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getTimestamp(3))).toMap
    assert(got === want)
  }

  test("streaming rank sketch (q136): multi-batch fold equals the batch-mode sketch exactly") {
    val (out, batches) = graft.streaming.StreamingJobs.streamRankRun(spark, sf)
    // 8 staged files at 2 per trigger: the recompaction must actually
    // fold state across micro-batches, not see everything at once
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
    val got = out.collect().map(r =>
      r.getDate(0).toString -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // batch twin computed directly — merge identity makes the micro-batch
    // boundaries invisible, so equality is EXACT, not approximate
    import org.apache.spark.sql.expressions.Window
    val h = graft.sources.Tables.events(spark, sf).select(
      to_date(col("ts")).as("day"), col("value").as("v"),
      md5(col("event_id").cast("string")).as("hh"))
    val samp = h.withColumn("sn",
        row_number().over(Window.partitionBy("day").orderBy("hh", "v")))
      .filter(col("sn") <= 64)
    val ranked = samp.withColumn("r",
      row_number().over(Window.partitionBy("day").orderBy("v")).cast("long"))
    val want = ranked
      .join(h.groupBy("day").agg(count(lit(1)).as("n")), "day")
      .withColumn("m", least(lit(64L), col("n")))
      .groupBy("day").agg(
        max("n").as("n_events"),
        min(when(col("r") === expr("(m + 1) div 2"), col("v"))).as("p50"),
        min(when(col("r") === expr("(m * 9 + 9) div 10"), col("v"))).as("p90"))
      .collect().map(r =>
        r.getDate(0).toString -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got === want)
  }

  test("foreachBatch upsert (q117): restart from checkpoint replays nothing and keeps the state") {
    val root = java.nio.file.Files.createTempDirectory("graftupsert").toString
    val (state1, batches1) =
      graft.streaming.StreamingJobs.upsertRun(spark, sf, Some(root))
    assert(batches1 >= 2)
    val snap1 = state1.collect().map(_.toSeq).sortBy(_.toString)
    // second run, same checkpoint + same source: the exactly-once contract
    // means ZERO new micro-batches and an unchanged published state
    val (state2, batches2) =
      graft.streaming.StreamingJobs.upsertRun(spark, sf, Some(root))
    assert(batches2 === 0L, s"restart replayed $batches2 batches")
    assert(state2.collect().map(_.toSeq).sortBy(_.toString) === snap1)
  }

  test("streaming rank sketch (q136): restart from checkpoint replays nothing, sketch unchanged") {
    val root = java.nio.file.Files.createTempDirectory("graftstreamrank").toString
    val (out1, batches1) =
      graft.streaming.StreamingJobs.streamRankRun(spark, sf, Some(root))
    assert(batches1 >= 2)
    val snap1 = out1.collect().map(_.toSeq).sortBy(_.toString)
    val (out2, batches2) =
      graft.streaming.StreamingJobs.streamRankRun(spark, sf, Some(root))
    assert(batches2 === 0L, s"restart replayed $batches2 batches")
    assert(out2.collect().map(_.toSeq).sortBy(_.toString) === snap1)
  }

  test("q117/q136 state folds: a restart re-runs the uncommitted last batch from its predecessor version") {
    type Run = Option[String] => (org.apache.spark.sql.DataFrame, Long)
    Seq[(String, Run)](
      "q117" -> (r => graft.streaming.StreamingJobs.upsertRun(spark, sf, r)),
      "q136" -> (r => graft.streaming.StreamingJobs.streamRankRun(spark, sf, r))
    ).foreach { case (tag, run) =>
      val root = java.nio.file.Files.createTempDirectory(s"graftreplay_$tag").toString
      val (out1, batches1) = run(Some(root))
      assert(batches1 >= 2, tag)
      val snap1 = out1.collect().map(_.toSeq).sortBy(_.toString)
      // batch n published state_v<n> but its commit never landed: the
      // restart must run batch n again, and its result must not change
      val commits = new java.io.File(s"$root/ckpt/commits")
      val last = commits.list().filter(_.forall(_.isDigit)).maxBy(_.toLong)
      Seq(last, s".$last.crc").foreach(f => new java.io.File(commits, f).delete())
      val (out2, batches2) = run(Some(root))
      assert(batches2 === 1L, s"$tag: the restart ran $batches2 batches")
      assert(out2.collect().map(_.toSeq).sortBy(_.toString) === snap1, tag)
    }
  }

  test("streaming heavy hitters (q147): multi-batch fold, capped state, exact verified output") {
    val (out, batches, stateRows) =
      graft.streaming.StreamingJobs.streamHeavyRun(spark, sf)
    assert(batches >= 2, s"expected a multi-batch fold, got $batches")
    // the MG state must never exceed its capacity after any fold
    assert(stateRows <= 15L, s"state held $stateRows rows, capacity 15")
    // the verified output is the EXACT heavy-hitter set: both hot keys,
    // nothing from the ~1.2% cold tail
    val keys = out.collect().map(_.getString(0)).toList
    assert(keys === List("hot_click", "hot_view"))
  }

  test("q162 streaming HLL: multi-batch register fold, state register-bounded, estimate in band") {
    val (out, batches, maxState) =
      graft.streaming.StreamingJobs.streamHllRun(spark, sf)
    assert(batches >= 2, s"expected a multi-batch fold, got $batches")
    // the bank can never exceed its 64 registers, after ANY fold
    assert(maxState <= 64L, s"state held $maxState rows, capacity 64")
    val r = out.head()
    val (exact, est) = (r.getAs[Long]("n_exact"), r.getAs[Long]("hll_est"))
    assert(exact > 0)
    // m=64 standard error ~13%; generous deterministic band
    assert(math.abs(est - exact).toDouble <= 0.4 * exact,
      s"est=$est exact=$exact")
  }

  test("q190 streaming bitmap distinct: multi-batch OR fold equals batch COUNT(DISTINCT) exactly, state domain-bounded") {
    val (out, batches, maxState) =
      graft.streaming.StreamingJobs.streamBitmapRun(spark, sf)
    assert(batches >= 2, s"expected a multi-batch fold, got $batches")
    val events = graft.sources.Tables.events(spark, sf)
    // state rows ≤ types × (max_user div 32 + 1) — fixed by the ID domain
    val Array(nTypes, maxUser) = events
      .agg(countDistinct("event_type"), max("user_id")).head()
      .toSeq.map(v => v.toString.toLong).toArray
    assert(maxState <= nTypes * (maxUser / 32 + 1),
      s"state $maxState exceeds domain bound")
    // EXACT parity — no band: the fold is the bitmap's own merge
    val got = out.collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_distinct_users")).toMap
    val want = events.groupBy("event_type")
      .agg(countDistinct("user_id").as("n")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(got === want, s"$got vs $want")
  }

  test("mapGroupsWithState: streaming per-user running counts match batch counts") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
    import spark.implicits._
    val events = graft.sources.Tables.events(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graftstate").toString
    events.write.mode("overwrite").parquet(s"$dir/in")
    val counts = spark.readStream.schema(events.schema).parquet(s"$dir/in")
      .select(col("user_id")).as[Long]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Long], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + it.size
          state.update(n)
          (uid, n)
      }
    val qy = counts.toDF("user_id", "n").writeStream
      .outputMode(OutputMode.Update()).format("memory").queryName("state_out")
      .trigger(Trigger.AvailableNow()).start()
    qy.awaitTermination()
    // Update mode re-emits a key on every batch; the LAST emission per key
    // is the final running count
    val got = spark.table("state_out").groupBy("user_id")
      .agg(max("n").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = events.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.dropTempView("state_out")
    assert(got === want)
  }

  test("session windows: 30-minute-gap sessionization per user") {
    val sessions = graft.sources.Tables.events(spark, sf)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val n = sessions.count()
    assert(n > 0)
    // every session holds at least one event and spans >= 30 minutes
    val bad = sessions.filter(col("n_events") < 1 ||
      unix_timestamp(col("w.end")) - unix_timestamp(col("w.start")) < 1800)
    assert(bad.count() === 0)
  }

  test("q212 streaming OHLC: multi-batch fold equals batch q175 exactly, one state row per day") {
    val (out, batches) = graft.streaming.StreamingJobs.streamOhlcRun(spark, sf)
    assert(batches >= 2, s"expected a multi-batch fold, got $batches")
    val got = out.collect().map(_.toSeq).toList
    val want = SparkEntry.queries("q175_ohlc_bars")(spark, sf)
      .collect().map(_.toSeq).toList
    assert(got === want, "stream ≡ batch identity broke")
  }

  test("q249 streaming semantic dedup ≡ q235 batch twin, row for row") {
    // zero streaming state + a shared probe core make the verdicts
    // micro-batch-boundary-independent — the stream must reproduce the
    // batch twin exactly (they also share one DuckDB oracle verbatim)
    val got = SparkEntry.queries("q249_stream_semdedup")(spark, sf)
      .collect().map(_.toSeq).toList
    val want = SparkEntry.queries("q235_delta_semdedup")(spark, sf)
      .collect().map(_.toSeq).toList
    assert(got === want, "stream ≡ batch identity broke")
    assert(got.nonEmpty)
  }

  test("q285 streaming funnel ≡ q282 batch funnel across genuine micro-batches") {
    // per-key in-order arrival (ts-range files, oldest-first replay)
    // makes the GroupState machine's verdicts equal the batch
    // min-per-step joins — and the state carry must be exercised by
    // MULTIPLE micro-batches, not a single drain
    val (out, batches) =
      streaming.StreamingJobs.streamFunnelRun(spark, sf)
    val got = out.collect().map(_.toSeq).toList
    val want = SparkEntry.queries("q282_funnel_steps")(spark, sf)
      .collect().map(_.toSeq).toList
    assert(got === want, s"stream ≡ batch identity broke: $got vs $want")
    assert(batches >= 4L, s"only $batches micro-batches — state carry untested")
    // the funnel genuinely converts on the fixture (non-vacuous)
    assert(got.head(2).asInstanceOf[Long] > 0L)
  }

  test("q294 streaming attribution ≡ q292 batch report across genuine micro-batches") {
    // per-key in-order arrival (the shared ts-range staging) makes the
    // per-user touch-ledger state machine's credits equal the batch
    // RANGE-frame closed forms — exercised across MULTIPLE micro-batches
    // so the 7-day eviction and cross-batch state carry are real
    val (out, batches) =
      streaming.StreamingJobs.streamAttributionRun(spark, sf)
    val got = out.collect().map(_.toSeq).toList
    val want = SparkEntry.queries("q292_multi_touch")(spark, sf)
      .collect().map(_.toSeq).toList
    assert(got === want, s"stream ≡ batch identity broke: $got vs $want")
    assert(batches >= 4L, s"only $batches micro-batches — state carry untested")
    // non-vacuous: at least one real channel earns credit
    assert(got.exists(r => r.head != "(none)" &&
      r(3).asInstanceOf[Long] > 0L))
  }

  test("q312 streaming SPRT ≡ q309 batch audit across genuine micro-batches; the decision latches") {
    // in-order arrival (shared ts-range staging) makes the 5-long
    // per-arm state walk the batch walk exactly: totals, decision,
    // crossing trial, and crossing llr all match row for row, and the
    // crossing point must LATCH at its first batch rather than drift
    // as later batches keep folding totals
    val (out, batches) = streaming.StreamingJobs.streamSprtRun(spark, sf)
    val got = out.collect().map(_.toSeq).toList
    val want = SparkEntry.queries("q309_sprt")(spark, sf)
      .collect().map(_.toSeq).toList
    assert(got === want, s"stream ≡ batch identity broke: $got vs $want")
    assert(batches >= 4L, s"only $batches micro-batches — state carry untested")
    // non-vacuous: both arms report and every decided arm sits beyond
    // its boundary
    assert(got.size === 2)
    val bound = graft.operators.Stats.sprtBound
    got.foreach { r =>
      val (dec, llr) = (r(3).asInstanceOf[String], r(5).asInstanceOf[Long])
      if (dec == "accept_h1") assert(llr >= bound)
      if (dec == "accept_h0") assert(llr <= -bound)
    }
  }

  test("q340 streaming SRM ≡ q331 batch audit across genuine micro-batches; the first-sight dedup reconstructs the batch min-day") {
    // oldest-first arrival makes a user's first sighting their true
    // assignment day, so the streaming per-user Boolean dedup must
    // reproduce q331's per-day rollup row for row — including the ALL
    // rollup and every χ²
    val (out, batches) = streaming.StreamingJobs.streamSrmRun(spark, sf)
    val got = out.collect().map(_.toSeq).toList
    val want = SparkEntry.queries("q331_srm_audit")(spark, sf)
      .collect().map(_.toSeq).toList
    assert(got === want, s"stream ≡ batch identity broke: $got vs $want")
    assert(batches >= 4L, s"only $batches micro-batches — state carry untested")
    // non-vacuous: the ALL row is present and user totals are positive
    val all = got.find(_.head == "ALL").get
    assert(all(1).asInstanceOf[Long] + all(2).asInstanceOf[Long] > 0L)
  }

  test("q299 streaming Merkle maintenance ≡ q295 batch incremental update across genuine micro-batches") {
    // the mod-p digest's additivity: four partial CDC folds must
    // compose to exactly the one-shot delta update
    val (out, batches) =
      streaming.StreamingJobs.streamMerkleRun(spark, sf)
    val got = out.collect().map(_.toSeq).toList
    val want = SparkEntry.queries("q295_merkle_maintain")(spark, sf)
      .collect().map(_.toSeq).toList
    assert(got === want, "stream ≡ incremental identity broke")
    assert(batches >= 4L, s"only $batches micro-batches — folding untested")
    // non-vacuous: the change set genuinely dirtied the tree
    assert(got.count(_.last.asInstanceOf[Boolean]) > 2)
  }

  test("q285 streaming funnel: epoch-start (t=0) events advance the state machine like the batch operator") {
    // advisor r12: a 0L 'unset' sentinel would silently treat a t=0
    // view as never-seen, diverging from batch; the planted q282
    // fixture has views AT the epoch, so stream ≡ batch here pins the
    // -1L sentinel
    import spark.implicits._
    val ns = 1000000000L
    val day = 86400L
    val rows = Seq(
      (1L, 0L * ns, 1L, "view", 0.0, "{}"),
      (2L, 3600L * ns, 1L, "click", 0.0, "{}"),
      (3L, 7200L * ns, 1L, "purchase", 0.0, "{}"),
      (4L, 0L * ns, 2L, "purchase", 0.0, "{}"),
      (5L, 100L * ns, 2L, "view", 0.0, "{}"),
      (6L, 0L * ns, 3L, "view", 0.0, "{}"),
      (7L, 8 * day * ns, 3L, "click", 0.0, "{}"),
      (8L, 0L * ns, 4L, "view", 0.0, "{}"),
      (9L, 100L * ns, 4L, "click", 0.0, "{}"),
      (10L, (100L + 8 * day) * ns, 4L, "purchase", 0.0, "{}"),
      (11L, 0L * ns, 5L, "click", 0.0, "{}"))
    val dir = java.nio.file.Files.createTempDirectory("graftsf0").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val (out, _) = streaming.StreamingJobs.streamFunnelRun(spark, dir)
    val got = out.collect().map(_.toSeq).toList
    val want = SparkEntry.queries("q282_funnel_steps")(spark, dir)
      .collect().map(_.toSeq).toList
    assert(got === want, s"epoch-start divergence: $got vs $want")
    // user 1's full funnel from a t=0 view must be counted
    assert(want.find(_(0) == 3).get(2).asInstanceOf[Long] === 1L)
  }
}
