package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.StreamingJobs

/** Pins the one streaming drain (`StreamingJobs.drain` and the primitives
  * built on it): staged file sources stream bound to the written schema
  * without a Spark job, fold versions read bound to their recorded schema
  * without a Spark job, a failing batch leaves no stream and no sink view
  * behind, and streaming queries give the same results from 4 sessions at
  * once.
  */
class DrainSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("staged sources: bound to the inferred schema, and building the stream launches no Spark job") {
    val staged = Seq(
      "events copy" -> StreamingJobs.stage(tmp("graft_spec_src"),
        sources.Tables.events(spark, sf).repartition(8)),
      "event ranges" -> StreamingJobs.stageEventRanges(spark, sf),
      "q299 deltas" -> StreamingJobs.merkleChanges(spark, sf, tmp("graft_spec_merkle")))
    staged.foreach { case (tag, st) =>
      assert(jobsLaunchedBy(spark.read.parquet(st.dir)) >= 1,
        s"$tag: an unbound parquet read infers its schema with a Spark job")
      assert(st.schema === spark.read.parquet(st.dir).schema, tag)
      var stream: DataFrame = null
      assert(jobsLaunchedBy { stream = st.stream(spark, 2) } === 0, tag)
      assert(stream.isStreaming && stream.schema === st.schema, tag)
    }
  }

  test("a drain whose batch throws leaves no active stream and no stream_* view") {
    val dir = tmp("graft_spec_fail")
    spark.range(4).write.mode("overwrite").parquet(s"$dir/in")
    val boom = udf((x: Long) => {
      if (x >= 0) throw new IllegalStateException("planted batch failure")
      x
    })
    val failing = spark.readStream.schema("id LONG").parquet(s"$dir/in")
      .select(boom(col("id")).as("id"))
    def views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("stream_")).toSeq
    intercept[Exception](StreamingJobs.drainToLocal(failing, "append")(identity))
    assert(spark.streams.active.isEmpty)
    assert(views.isEmpty)
    intercept[Exception](StreamingJobs.foldVersions(tmp("graft_spec_fold"), failing) {
      (batch, _) => batch
    })
    assert(spark.streams.active.isEmpty)
  }

  test("fold versions read bound to their recorded schema: no Spark job, same rows as an inferring read") {
    val src = StreamingJobs.stageOrdered(tmp("graft_spec_fold_src"),
      Seq(spark.range(0, 3).toDF("id"), spark.range(3, 6).toDF("id")))
    val root = tmp("graft_spec_fold_v")
    val (state, batches) = StreamingJobs.foldVersions(root, src.stream(spark, 1)) {
      (batch, prev) => prev.fold(batch)(_.unionByName(batch))
    }
    assert(batches === 2L)
    assert(state.collect().map(_.getLong(0)).sorted.toSeq === (0L until 6L))
    val versions = StreamingJobs.versions(spark, root)
    assert(versions.size === 2)
    versions.foreach { v =>
      var df: DataFrame = null
      assert(jobsLaunchedBy { df = StreamingJobs.readVersion(spark, v) } === 0, v)
      val inferred = spark.read.parquet(v)
      assert(df.schema === inferred.schema, v)
      assert(df.collect().map(_.toString).sorted === inferred.collect().map(_.toString).sorted, v)
    }
  }

  test("streaming drains: 4 sessions at once match a sequential run") {
    assertConcurrentMatchesSequential(Seq("q39_stream_tumbling",
      "q117_stream_upsert", "q147_stream_heavy_hitters", "q285_stream_funnel",
      "q299_stream_merkle"))
  }
}
