package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.events]] and [[streaming.EventStream.readEvents]] normalize
  * `ts` to one session-TZ TIMESTAMP whatever its physical type: the
  * fixtures' TIMESTAMP(MICROS) without time zone (read as TIMESTAMP_NTZ),
  * a session-TZ timestamp, or epoch nanoseconds stored as a long. This
  * spec writes the three flavors and asserts they read back
  * value-identical. The reference's schema-robustness theme (its CSV
  * `inferSchema=True` ingest, linehaul_source_to_bronze.py:109-141) maps
  * onto exactly this: a source whose physical types drift between
  * deliveries must not break the pipeline.
  */
class AdaptiveReaderSpec extends AnyFunSuite {
  import TestSpark._

  // canonical rows from the current fixture, whatever its flavor
  private lazy val canon = Tables.events(spark, sf)
    .select(col("event_id"), unix_micros(col("ts")).as("us"))
    .orderBy("event_id").limit(200).collect().map(r => (r.getLong(0), r.getLong(1)))

  private def writeFlavor(tsCol: org.apache.spark.sql.Column, dir: String): String = {
    Tables.events(spark, sf)
      .select(col("event_id"), tsCol.as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def readBack(dir: String): Array[(Long, Long)] =
    Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .orderBy("event_id").limit(200).collect().map(r => (r.getLong(0), r.getLong(1)))

  test("long-nanos flavor reads through Tables.events value-identical") {
    val dir = java.nio.file.Files.createTempDirectory("ev_long").toString
    writeFlavor(expr("unix_micros(ts) * 1000L"), dir)
    assert(Tables.events(spark, dir).schema("ts").dataType == TimestampType)
    assert(readBack(dir).sameElements(canon))
  }

  test("TIMESTAMP_NTZ flavor reads through Tables.events value-identical") {
    val dir = java.nio.file.Files.createTempDirectory("ev_ntz").toString
    writeFlavor(col("ts").cast(TimestampNTZType), dir)
    // written file really is NTZ, reader normalizes to session-TZ timestamp
    assert(spark.read.parquet(s"$dir/events.parquet")
      .schema("ts").dataType == TimestampNTZType)
    assert(Tables.events(spark, dir).schema("ts").dataType == TimestampType)
    assert(readBack(dir).sameElements(canon))
  }

  test("native timestamp flavor reads through Tables.events value-identical") {
    val dir = java.nio.file.Files.createTempDirectory("ev_native").toString
    writeFlavor(col("ts").cast(TimestampType), dir)
    assert(Tables.events(spark, dir).schema("ts").dataType == TimestampType)
    assert(readBack(dir).sameElements(canon))
  }

  test("streaming readEvents probes the physical schema and normalizes ts") {
    val dir = java.nio.file.Files.createTempDirectory("ev_stream").toString
    writeFlavor(col("ts").cast(TimestampNTZType), dir)
    val st = streaming.EventStream.readEvents(spark, s"$dir/events.parquet")
    assert(st.isStreaming)
    assert(st.schema("ts").dataType == TimestampType)
    val longDir = java.nio.file.Files.createTempDirectory("ev_stream_l").toString
    writeFlavor(expr("unix_micros(ts) * 1000L"), longDir)
    val stL = streaming.EventStream.readEvents(spark, s"$longDir/events.parquet")
    assert(stL.schema("ts").dataType == TimestampType)
  }

  test("a failed events read throws and leaves the session conf as it was") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    val missing = java.nio.file.Files.createTempDirectory("ev_missing").resolve("absent").toString
    intercept[Exception](Tables.events(spark, missing))
    assert(spark.conf.getOption(key) == before)
    intercept[Exception](streaming.EventStream.readEvents(spark, s"$missing/events.parquet"))
    assert(spark.conf.getOption(key) == before)
  }
}
