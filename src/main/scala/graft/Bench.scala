package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Host-load stamp: three consecutive rounds (r9 q121/q122, r10
    // q28/q72/q94, r11 ten movers) burned a judge median-of-5 adjudication
    // cycle proving driver-bench drift was ambient host load. Reading
    // /proc/loadavg at session start AND end settles that at read time:
    // a record taken at load1 > ~2 is annotated, not adjudicated (the
    // SURVEY §6 convention). -1.0 = unreadable (non-Linux), never a crash.
    def load1(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loadBefore = load1()
    val spark = localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Fail loudly ONCE on fixture drift before benching into it (see
    // Tables.smokeCheck; r7's re-encoded ts column produced 35 repeated
    // error strings that blew the harness's JSON parse window).
    graft.sources.Tables.smokeCheck(spark, sfDir)
    // Untimed warm-up: JIT, codegen compiler, parquet reader and spark.ml
    // (breeze/BLAS) initialization would otherwise all be attributed to
    // whichever query happens to iterate first (measured ~5s on the first
    // query of a cold session).
    SparkEntry.entry(spark).count();
    {
      import org.apache.spark.ml.classification.LogisticRegression
      import org.apache.spark.ml.feature.VectorAssembler
      import spark.implicits._
      val tiny = new VectorAssembler().setInputCols(Array("x")).setOutputCol("features")
        .transform((0 until 64).map(i => (i.toDouble, i % 2)).toDF("x", "label"))
      new LogisticRegression().setMaxIter(2).fit(tiny).transform(tiny).count()
    }
    // Sorted name order: Map iteration order is arbitrary and changes with
    // the key set, which made round-over-round per-query diffs attribute
    // warm-up/GC noise to whichever query happened to move.
    // Materialize through the noop sink, not count(): count() lets the
    // optimizer delete provably-cardinality-neutral subtrees — a left join
    // against a grouped (unique-key) right side drops the ENTIRE right
    // subtree, so a query like the minhash-dedup verdict would "run" in the
    // time of a bare table count. The noop sink evaluates every output row
    // and column and discards them — the cost of the real query, minus sink
    // I/O.
    // Optional comma-separated query-name filter (substring match) for
    // iterating on one query's timing without paying the full suite.
    val (only, selected) = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val results = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None
      } catch { case e: Throwable => Some(e.toString.takeWhile(_ != '\n')) }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }
    // ms precision, Locale.ROOT: a wall-clock timing carries no more than
    // 3 digits, and 9-digit doubles pushed the line past the ~2000-char
    // output window the harness records (every BENCH_r1..r5 came back
    // "parsed": null — the line was truncated mid-JSON).
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Short qNN keys for the same reason (the contract example uses "q1");
    // the full name is the SparkEntry.queries key with that prefix. Two
    // names sharing a prefix would silently emit a duplicate JSON key and
    // lose a timing — fail instead.
    val prefixes = results.map(_._1.takeWhile(_ != '_'))
    require(prefixes.distinct.size == prefixes.size,
      s"duplicate qNN prefixes: ${prefixes.diff(prefixes.distinct).mkString(",")}")
    val qs = results.map { case (k, v, _) => Verify.jstr(k.takeWhile(_ != '_')) + ":" + fmt(v) }
      .mkString("{", ",", "}")
    // A failed query must surface as a failure, not as a fast timing line —
    // but bounded: r7's 35 full exception strings blew the ~2000-char
    // window the harness parses and zeroed the round's timings
    // ("parsed": null), the exact failure mode the fmt() comment documents.
    // Truncate each message to 80 chars, emit at most 8 entries, and fold
    // the overflow into a single "_more" count so a systemic failure reads
    // as one line instead of eating the JSON.
    val failed = results.collect { case (k, _, Some(e)) => (k, e.take(80)) }
    val errs = (failed.take(8).map { case (k, e) => Verify.jstr(k) + ":" + Verify.jstr(e) }
      ++ (if (failed.size > 8) Seq(s""""_more":${failed.size - 8}""") else Nil))
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum
    // Record the active filter: a filtered run saved as BENCH_rNN.json must
    // be distinguishable from a full-suite run. Escaped like the errors
    // map — a stray quote in the env var must not corrupt the one JSON
    // line the harness parses.
    val onlyJson = only.map(o => s""","only":${Verify.jstr(o.mkString(","))}""").getOrElse("")
    // The stamp rides BOTH emitted lines (compact + detail) so whichever
    // artifact a reader holds self-adjudicates.
    val loadAfter = load1()
    val loadJson =
      s""","load1_before":${fmt(loadBefore)},"load1_after":${fmt(loadAfter)}"""
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"errors":$errs$onlyJson$loadJson,"sf":${Verify.jstr(sfDir)}}"""
    // The full line (233 timings ≈ 3.4k chars) overflows the ~2000-char
    // stdout tail window the harness records — BENCH_r07 and r08 both came
    // back "parsed": null despite clean runs. Persist the full map to a
    // file, print the full line for local logs, then print a COMPACT
    // summary (~150 chars, guaranteed inside the window) as the FINAL
    // stdout line so the driver's parse always lands on a complete JSON
    // object with the total, query count, and error count.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath), fullLine + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    // stderr, not stdout: a consumer selecting by "metric":"total" instead
    // of taking the final stdout line would otherwise match TWO records
    // (this full line and the compact summary below). Exactly one "total"
    // record appears on stdout; the full map still reaches local logs via
    // stderr and durable storage via detailPath.
    System.err.println(fullLine)
    // detailPath and sfDir are env-controlled: escape them like `only`
    // above, or a quote/backslash in either path re-breaks the final
    // guaranteed-parseable line this split exists to protect.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"errors":${failed.size}$loadJson,"detail":${Verify.jstr(detailPath)},"sf":${Verify.jstr(sfDir)}}""")
    spark.stop()
    // Explicit exit after the one JSON line is printed — see Verify.main:
    // a leaked non-daemon thread must not stall the harness on process
    // exit when the measurement is already on stdout.
    sys.exit(0)
  }
}
