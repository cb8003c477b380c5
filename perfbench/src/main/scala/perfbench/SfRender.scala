package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded tables for the operator mix, in the schemas the `ops.*` keys
  * read (`Tables.*`): the TPC-H-style star (lineitem, orders, customer,
  * nation, region), `documents` and `embeddings`. Rows are generated on
  * the driver from one [[SplitMix]] stream, then written as one parquet
  * file per table, so one seed gives the same rows in the same order.
  * `sf` scales the row counts the way the engine's scale factors do
  * (sf 0.01 = 60,000 lineitem rows). */
object SfRender {

  private val vocab = IndexedSeq("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "a", "the",
    "line", "sort", "window", "order", "data", "column", "join", "small",
    "customer", "query", "big", "stream", "filter", "group", "index", "plan",
    "cache", "shuffle", "node", "task", "stage", "file", "page", "block",
    "segment")
  private val langs = IndexedSeq("en", "en", "en", "zh", "de", "fr", "es")

  private def ts(r: SplitMix, fromYear: Int, years: Int): LocalDateTime =
    LocalDateTime.of(fromYear, 1, 1, 0, 0).plusDays(r.nextInt(years * 365).toLong)

  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  /** Writes the tables under `dir` and returns their row counts. */
  def write(spark: SparkSession, dir: String, seed: Long, sf: Double)
      : Map[String, Long] = {
    val r = new SplitMix(seed)
    val nOrders = (1500000 * sf).toInt
    val nCustomers = (150000 * sf).toInt
    val nDocs = (50000 * sf).toInt
    val nVecs = (50000 * sf).toInt

    def save(name: String, schema: StructType, rows: Seq[Row]): (String, Long) = {
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      name -> rows.size.toLong
    }

    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => Row(i, n) }
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val segments = IndexedSeq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
      "BUILDING", "FURNITURE")
    val customer = (0 until nCustomers).map(i => Row(i.toLong,
      f"Customer#$i%09d", r.nextInt(25), cents(-999.99 + r.nextDouble() * 10999.98),
      r.pick(segments)))
    val priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW")
    val orders = (0 until nOrders).map(i => Row(i.toLong,
      r.nextInt(nCustomers).toLong, r.pick(IndexedSeq("O", "F", "P")),
      cents(1000 + r.nextDouble() * 499000), ts(r, 1995, 6),
      r.pick(priorities)))
    val lineitem = (0 until nOrders * 4).map { _ =>
      val q = (1 + r.nextInt(50)).toDouble
      Row(r.nextInt(nOrders).toLong, r.nextInt(math.max(1, nOrders / 7)).toLong,
        r.nextInt(math.max(1, nOrders / 150)).toLong, 1 + r.nextInt(7), q,
        cents(q * (900 + r.nextDouble() * 1200)), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, r.pick(IndexedSeq("A", "N", "R")),
        r.pick(IndexedSeq("F", "O")), ts(r, 1995, 7))
    }
    // near-duplicate documents (a copy with one word changed) give the
    // dedup and LSH keys real clusters to find
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until nDocs).foreach { i =>
      val t =
        if (i > 10 && r.chance(0.05)) {
          val ws = texts(r.nextInt(texts.size)).split(' ')
          ws(r.nextInt(ws.length)) = r.pick(vocab)
          ws.mkString(" ")
        } else (0 until 8 + r.nextInt(80)).map(_ => r.pick(vocab)).mkString(" ")
      texts += t
    }
    val documents = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, r.pick(langs), s"src${i % 20}", t.length.toLong)
    }.toSeq
    val centers = (0 until 10).map(_ =>
      Array.fill(64)((r.nextDouble() - 0.5).toFloat * 0.4f))
    val embeddings = (0 until nVecs).map { i =>
      val label = r.nextInt(10)
      val v = centers(label).map(c => c + (r.nextDouble() - 0.5).toFloat * 0.2f)
      Row(i.toLong, v.toSeq, label)
    }

    def st(fs: (String, DataType)*) =
      StructType(fs.map { case (n, t) => StructField(n, t) })
    Seq(
      save("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
        region),
      save("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), nation),
      save("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType), customer),
      save("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
        orders),
      save("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType), lineitem),
      save("documents", st("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
        documents),
      save("embeddings", st("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
        embeddings)
    ).toMap
  }
}
