package graft

import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Pins schema-bound reads: `Scratch.read` returns exactly the schema an
  * inferring read would, refuses dirs `Scratch.write` did not produce, and
  * `Tables.table` pays footer inference (a Spark job) once per path.
  */
class SchemaBindingSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("Scratch.read: the bound schema equals the inferred one") {
    val schema = StructType(Seq(
      StructField("l", LongType, nullable = false),
      StructField("i", IntegerType, nullable = false),
      StructField("dec", DecimalType(38, 0), nullable = false),
      StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("st", StructType(Seq(
        StructField("a", IntegerType, nullable = false),
        StructField("b", StringType, nullable = false))), nullable = false),
      StructField("ts", TimestampType, nullable = false),
      StructField("s", StringType, nullable = false)))
    val rows = (0 until 3).map(k => Row(k.toLong, k, java.math.BigDecimal.valueOf(k * 7L),
      Seq(k.toFloat, k + 0.5f), Row(k, s"b$k"),
      Timestamp.valueOf(LocalDateTime.of(2024, 1, 1 + k, 12, 0)), s"s$k"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    assert(df.schema.forall(!_.nullable))

    val dir = Scratch.write("graft_spec_bind", df)
    val bound = Scratch.read(spark, dir)
    val inferred = spark.read.parquet(dir)
    assert(bound.schema === inferred.schema)
    assert(bound.schema.forall(_.nullable)) // asNullable applied to both
    assert(bound.orderBy("l").collect().toSeq === inferred.orderBy("l").collect().toSeq)
    assert(bound.orderBy("l").collect().toSeq === rows)
  }

  test("Scratch.read: an empty write reads back bound (nothing to infer from)") {
    val dir = Scratch.write("graft_spec_empty", spark.range(10).toDF("id").filter(col("id") < 0))
    val empty = Scratch.read(spark, dir)
    assert(empty.schema.fieldNames.toSeq === Seq("id"))
    assert(empty.count() === 0L)
  }

  test("Scratch.read: a dir Scratch.write did not produce throws") {
    val raw = Scratch.dir("graft_spec_raw")
    spark.range(3).write.mode("overwrite").parquet(raw)
    val e = intercept[IllegalArgumentException](Scratch.read(spark, raw))
    assert(e.getMessage.contains(raw))
    intercept[IllegalArgumentException](Scratch.read(spark, s"${tmp("graft_spec_none")}/x"))

    val dropped = Scratch.write("graft_spec_drop", spark.range(3).toDF("x"))
    assert(Scratch.read(spark, dropped).count() === 3L)
    Scratch.drop(dropped)
    intercept[IllegalArgumentException](Scratch.read(spark, dropped))
  }

  test("Tables.table: footer inference runs on a path's first read only") {
    val dir = tmp("graft_spec_tables")
    spark.range(5).select(col("id").as("r_regionkey"), col("id").cast("string").as("r_name"))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val unbound = jobsLaunchedBy(spark.read.parquet(s"$dir/region.parquet"))
    assert(unbound >= 1, "an unbound parquet read infers its schema with a Spark job")

    val first = jobsLaunchedBy(Tables.table(spark, dir, "region"))
    assert(first >= 1)
    val client = spark.newSession()
    var again: org.apache.spark.sql.DataFrame = null
    val second = jobsLaunchedBy { again = Tables.table(client, dir, "region") }
    assert(second === 0)
    assert(again.sparkSession eq client)
    assert(again.schema === spark.read.parquet(s"$dir/region.parquet").schema)
    assert(again.orderBy("r_regionkey").collect().map(_.getLong(0)).toSeq === (0L until 5L))
  }

  test("Tables.events: each ts encoding takes its branch on a bound read") {
    val when = LocalDateTime.of(2024, 3, 1, 10, 30, 15) // read as UTC
    val micros = 1709289015000000L
    val encodings: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "nanos" -> lit(micros * 1000L + 999L), // sub-µs nanos truncate
      "ntz" -> lit(when),
      "ts" -> lit(new Timestamp(micros / 1000L)))
    encodings.foreach { case (tag, ts) =>
      val dir = tmp(s"graft_spec_ev_$tag")
      spark.range(2).select(col("id").cast("int").as("event_id"), ts.as("ts"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val first = Tables.events(spark, dir)
      val bound = Tables.events(spark.newSession(), dir)
      Seq(first, bound).foreach { ev =>
        assert(ev.schema("ts").dataType === TimestampType, tag)
        assert(ev.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq ===
          Seq(micros, micros), tag)
      }
    }
  }
}
