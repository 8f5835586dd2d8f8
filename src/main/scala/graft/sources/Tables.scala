package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet loaders for the fixture star schema (FIXTURES.md).
  *
  * Every table read is bound to a schema inferred once per table path per
  * JVM. An unbound `read.parquet(path)` infers the schema by launching a
  * one-task Spark job that reads a footer, on every call; the fixture
  * tables are immutable per JVM ([[graft.Scratch]] contract 1), so that
  * job is paid on a path's first read only (the reference's CSV
  * `inferSchema=True` at Dataset.py:77 pays a full extra pass over the
  * data instead; a production CSV path should pass an explicit StructType
  * — see [[Csv.crimeLikeSchema]]). Column pruning + predicate pushdown
  * reach the scan automatically because every operator stays declarative.
  */
object Tables {
  private val schemas = new graft.Scratch.PerDir[StructType]

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemas(path)(spark.read.parquet(path).schema)).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** Schema-adaptive loader for `events`: the logical contract is "`ts` is
    * an event-time timestamp", but fixtures have shipped it under two
    * physical encodings — parquet TIMESTAMP(NANOS) (no native Spark type;
    * surfaces as a nanos-since-epoch long under
    * `spark.sql.legacy.parquet.nanosAsLong=true`) and plain
    * timestamp[us] (surfaces as TIMESTAMP or, with isAdjustedToUTC=false
    * and NTZ inference on, TIMESTAMP_NTZ). A real lake reads mixed
    * encodings of the same logical column, so branch on the READ schema
    * instead of hard-coding one:
    *   - LongType → nanos: truncate with integer `div` (a double division
    *     would lose bits above 2^53), then `timestamp_micros`. Requires the
    *     nanosAsLong flag, set once in the session builder
    *     ([[graft.localSession]]) — a reader must not mutate session-global
    *     conf as a side effect.
    *   - TIMESTAMP_NTZ → cast to TIMESTAMP. Value-preserving under the
    *     pinned UTC session zone, and keeps every downstream operator on
    *     the one type (window ranges, watermarks) they were built against.
    *   - TIMESTAMP → pass through.
    */
  def events(s: SparkSession, d: String): DataFrame =
    eventsTs(s, table(s, d, "events"))

  /** [[events]]' adaptation of `ts`, for any frame over the events file —
    * the batch table above, and the streaming read of q39 and its family,
    * whose schema is the batch read's. */
  def eventsTs(s: SparkSession, raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        require(
          s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"),
          "events.parquet stores TIMESTAMP(NANOS): set " +
            "spark.sql.legacy.parquet.nanosAsLong=true in the SparkSession builder")
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalArgumentException(
        s"events.ts: unsupported physical type $other (expected long nanos, " +
          "TIMESTAMP, or TIMESTAMP_NTZ)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Fixture-schema smoke check, run first thing in Verify/Bench: assert
    * the LOGICAL schema of every fixture table (column names + coarse type
    * class, post-adaptation — `events.ts` is checked after [[events]]'s
    * encoding branch) and fail with ONE message naming every drifted
    * table.column. Round 7's lesson: the driver regenerated the fixtures
    * with `ts` re-encoded and the suite failed 35 times with the same
    * buried AnalysisException — 1 loud failure at startup beats 35
    * confusing ones mid-run. Type CLASSES, not exact types, so a benign
    * re-encoding (int32→int64, timestamp→date) doesn't trip the gate the
    * adaptive loaders were built to absorb.
    */
  def smokeCheck(s: SparkSession, d: String): Unit = {
    import org.apache.spark.sql.types._
    def cls(t: DataType): String = t match {
      case ByteType | ShortType | IntegerType | LongType => "int"
      case FloatType | DoubleType | _: DecimalType       => "frac"
      case StringType                         => "string"
      case TimestampType | TimestampNTZType | DateType => "time"
      case ArrayType(FloatType | DoubleType, _)        => "vec"
      case other                              => other.simpleString
    }
    val expect: Seq[(String, Seq[(String, String)])] = Seq(
      "region"    -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
      "nation"    -> Seq("n_nationkey" -> "int", "n_name" -> "string",
                         "n_regionkey" -> "int"),
      "customer"  -> Seq("c_custkey" -> "int", "c_name" -> "string",
                         "c_nationkey" -> "int", "c_acctbal" -> "frac",
                         "c_mktsegment" -> "string"),
      "supplier"  -> Seq("s_suppkey" -> "int", "s_name" -> "string",
                         "s_nationkey" -> "int", "s_acctbal" -> "frac"),
      "part"      -> Seq("p_partkey" -> "int", "p_name" -> "string",
                         "p_brand" -> "string", "p_type" -> "string",
                         "p_size" -> "int", "p_retailprice" -> "frac"),
      "orders"    -> Seq("o_orderkey" -> "int", "o_custkey" -> "int",
                         "o_orderstatus" -> "string", "o_totalprice" -> "frac",
                         "o_orderdate" -> "time", "o_orderpriority" -> "string"),
      "lineitem"  -> Seq("l_orderkey" -> "int", "l_partkey" -> "int",
                         "l_suppkey" -> "int", "l_linenumber" -> "int",
                         "l_quantity" -> "frac", "l_extendedprice" -> "frac",
                         "l_discount" -> "frac", "l_tax" -> "frac",
                         "l_returnflag" -> "string", "l_linestatus" -> "string",
                         "l_shipdate" -> "time"),
      "events"    -> Seq("event_id" -> "int", "ts" -> "time",
                         "user_id" -> "int", "event_type" -> "string",
                         "value" -> "frac", "props" -> "string"),
      "documents" -> Seq("doc_id" -> "int", "text" -> "string",
                         "lang" -> "string", "source" -> "string",
                         "n_chars" -> "int"),
      "embeddings" -> Seq("vec_id" -> "int", "embedding" -> "vec",
                          "label" -> "int"))
    val problems = expect.flatMap { case (name, cols) =>
      try {
        val df = if (name == "events") events(s, d) else table(s, d, name)
        val got = df.schema.map(f => f.name -> cls(f.dataType))
        if (got == cols) Nil
        else {
          val gm = got.toMap
          cols.collect { case (c, k) if !gm.contains(c) =>
            s"$name.$c: MISSING (expected $k)" } ++
          cols.collect { case (c, k) if gm.get(c).exists(_ != k) =>
            s"$name.$c: ${gm(c)} (expected $k)" } ++
          got.collect { case (c, _) if !cols.exists(_._1 == c) =>
            s"$name.$c: unexpected column" }
        }
      } catch { case e: Throwable =>
        Seq(s"$name: unreadable — ${Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.next()}")
      }
    }
    if (problems.nonEmpty) throw new IllegalStateException(
      s"fixture schema drift under $d:\n  " + problems.mkString("\n  "))
  }

  /** Decouple compute parallelism from input splits. A source yielding
    * fewer partitions than half the scheduler's parallelism (the fixture
    * tables are the extreme: single-row-group parquet ⇒ ONE split) pins
    * every downstream map stage — minhash projections, candidate
    * generation — to that handful of tasks, and AQE's broadcast-everything
    * choice at small scale means no later exchange rescues it. One keyed
    * shuffle fans the work out; on a production multi-split source the
    * guard makes this a no-op, so the 100 TB plan pays nothing.
    */
  def fanOut(df: DataFrame, key: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // explicit partition count: a bare repartition(col) is re-coalesced by
    // AQE on SIZE (these stages are CPU-heavy but byte-light — 0.6 MB of
    // text fans out to seconds of hashing), while REPARTITION_BY_NUM is
    // respected as a user decision
    if (df.rdd.getNumPartitions * 2 < target) df.repartition(target, col(key))
    else df
  }
}
