package graft.streaming

/** CLI: drive the streaming windowed aggregation synchronously over an
  * events parquet directory and print the result.
  *
  * Usage: runMain graft.streaming.StreamMain <dir-with-events.parquet>
  */
object StreamMain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.local()
    val q = EventStream.windowedCounts(EventStream.readEvents(spark, dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_out")
      .start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("stream_out").orderBy("wstart", "event_type")
    println(s"[stream] windows: ${out.count()}")
    out.show(10, truncate = false)
    spark.stop()
  }
}
