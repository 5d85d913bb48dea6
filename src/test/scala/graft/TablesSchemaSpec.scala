package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Schema-drift defense (VERDICT r11 item 4): the driver regenerates
  * testdata between rounds and has shifted physical types before
  * (events.ts TIMESTAMP(NANOS) → TIMESTAMP(MICROS)). `Tables.load`
  * must adapt the safe variants and fail with ONE precise message
  * naming the table/column on a real contract violation.
  */
class TablesSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("tables-schema").toString

  test("load adapts a ts-family column stored as typed micros (current testdata)") {
    val df = Tables.load(spark, "/root/testdata/sf0.001", "events")
    df.schema("ts").dataType shouldBe org.apache.spark.sql.types.TimestampType
    df.count() should be > 0L
  }

  test("load fails fast naming table and column on a drifted type") {
    val dir = tmp()
    // events with ts drifted to string — not in the ts family
    Seq((1L, "2024-01-01 00:00:00", 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.load(spark, dir, "events"))
    e.getMessage should include("events.parquet schema drift")
    e.getMessage should include("'ts'")
    e.getMessage should include("string")
  }

  test("load fails fast on a missing contract column") {
    val dir = tmp()
    Seq((1, "EUROPE-ISH")).toDF("r_regionkey", "r_label")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val e = intercept[IllegalStateException](Tables.load(spark, dir, "region"))
    e.getMessage should include("region.parquet schema drift")
    e.getMessage should include("'r_name'")
  }

  test("load tolerates extra columns and narrower int widths") {
    val dir = tmp()
    Seq((1, "EUROPE", "extra")).toDF("r_regionkey", "r_name", "r_comment")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    Tables.load(spark, dir, "region").count() shouldBe 1L
  }

  test("legacy nanos-as-long ts columns are adapted back to timestamp") {
    val dir = tmp()
    // simulate a nanos vintage: ts scanned as raw long under nanosAsLong
    val nanos = 1704067200L * 1000000000L + 123456789L
    Seq((1L, nanos, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = Tables.load(spark, dir, "events")
    df.schema("ts").dataType shouldBe org.apache.spark.sql.types.TimestampType
    // integer division to micros: sub-micro digits truncate, rest exact
    df.select(unix_micros(col("ts"))).as[Long].head() shouldBe nanos / 1000L
  }

  test("a repeat load of an unchanged table runs no job; a rewritten table re-infers its schema") {
    val dir = tmp()
    val path = s"$dir/region.parquet"
    Seq((1, "EUROPE")).toDF("r_regionkey", "r_name").write.parquet(path)
    val first = Tables.load(spark, dir, "region")
    val (again, jobs) = jobsDuring(Tables.load(spark, dir, "region"))
    jobs shouldBe 0
    again.schema shouldBe first.schema
    again.collect().map(_.getString(1)).toSeq shouldBe Seq("EUROPE")
    // rewritten with a drifted type: the contract check sees the new schema
    Seq((1, 2.5)).toDF("r_regionkey", "r_name").write.mode("overwrite").parquet(path)
    val e = intercept[IllegalStateException](Tables.load(spark, dir, "region"))
    e.getMessage should include("'r_name'")
    // and rewritten again with an extra column
    Seq((2, "ASIA", "x")).toDF("r_regionkey", "r_name", "r_comment")
      .write.mode("overwrite").parquet(path)
    val widened = Tables.load(spark, dir, "region")
    widened.columns.toSeq shouldBe Seq("r_regionkey", "r_name", "r_comment")
    widened.collect().map(_.getString(1)).toSeq shouldBe Seq("ASIA")
  }
}
