package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Guard against driver-side testdata regeneration changing the physical
  * encoding of `events.ts` (it flipped TIMESTAMP(NANOS) → TIMESTAMP(MICROS)
  * between rounds 8 and 9, silently killing every events key).
  * [[Events.normalize]] must produce IDENTICAL output for both encodings,
  * and fail fast with a named error for an encoding it doesn't know. */
class EventsSchemaDriftSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** 10 rows with micros-precision timestamps (what both encodings can
    * represent exactly), as (epoch-nanos, everything else). */
  private def baseRows = {
    import spark.implicits._
    (0 until 10).map { i =>
      (i.toLong, 1704067200000000000L + i * 61_000_000_000L, i.toLong % 3,
        if (i % 2 == 0) "click" else "purchase", i * 1.5, s"""{"i":$i}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  test("nanos-long and micros-NTZ encodings normalize identically") {
    val tmp = tempDir("events-drift")
    // Variant A: ts as plain int64 epoch-nanos — byte-identical to what the
    // nanos file surfaces under spark.sql.legacy.parquet.nanosAsLong.
    baseRows.write.parquet(s"$tmp/nanos/events.parquet")
    // Variant B: ts as TIMESTAMP_NTZ micros — the round-9 testdata encoding.
    baseRows
      .withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      .write.parquet(s"$tmp/micros/events.parquet")

    val a = Events.events(spark, s"$tmp/nanos")
    val b = Events.events(spark, s"$tmp/micros")
    assert(a.schema("ts").dataType == b.schema("ts").dataType)
    assert(a.schema("ts_t").dataType == b.schema("ts_t").dataType)
    val ra = a.orderBy("event_id").collect().map(_.toString).toSeq
    val rb = b.orderBy("event_id").collect().map(_.toString).toSeq
    assert(ra == rb)
    // And the values are the exact epoch-nanos we wrote.
    assert(b.orderBy("event_id").select("ts").as[Long](
      org.apache.spark.sql.Encoders.scalaLong).head() == 1704067200000000000L)
  }

  test("unknown ts encoding fails fast with a named error") {
    val tmp = tempDir("events-drift-bad")
    baseRows.withColumn("ts", col("ts").cast("string"))
      .write.parquet(s"$tmp/events.parquet")
    val e = intercept[IllegalStateException](Events.events(spark, tmp))
    assert(e.getMessage.contains("schema drift"))
  }

  test("a caller's time zone survives the load and does not move ts") {
    val tz = "spark.sql.session.timeZone"
    val tmp = Files.createTempDirectory("events-zone")
    try {
      // the zone-sensitive encoding: NTZ wall-clock micros
      baseRows
        .withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
        .write.parquet(s"$tmp/events.parquet")
      val local = spark.newSession()
      local.conf.set(tz, "America/Sao_Paulo")
      def values(s: SparkSession): Seq[(Long, Long)] =
        Events.events(s, tmp.toString).orderBy("event_id")
          .select(col("ts"), unix_micros(col("ts_t"))).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val utc = values(spark)
      assert(values(local) == utc)
      assert(local.conf.get(tz) == "America/Sao_Paulo")
      assert(utc.head == (1704067200000000000L, 1704067200000000L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
