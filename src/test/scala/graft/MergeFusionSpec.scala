package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r22 fused COW merge rewrite (one left-outer join of the affected
  * files against the prefixed source) must be result-identical to the
  * two-join form it replaced (carried = anti-join, updated = inner
  * join), which lives here as the oracle in plain DataFrame code over
  * the same inputs. Exercised over the adversarial MERGE shapes:
  * deleteWhen retractions, NULL-keyed source rows, duplicate target rows
  * per key, an affected/untouched file split, and table columns named
  * like the rewrite's internal aliases. */
class MergeFusionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Build a two-commit table whose second column is named `tag`, run
    * the MERGE (asserting it rewrites exactly the files that hold a
    * source key), and return (result rows, rows inserted) next to the
    * two-join oracle's (rows, inserted rows). */
  private def runMerge(dir: String, tag: String)
      : (Seq[Row], Long, Seq[Row], Long) = {
    import ops.Layout._
    import spark.implicits._
    val table = s"target/graft_io/spec/$dir"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    // commit 1: ids 1-4 with id 2 DUPLICATED (SQL MERGE updates each
    // matched target row); commit 2: ids 10-12 (untouched by the merge)
    val first = Seq((1L, "a", 10), (2L, "b", 20), (2L, "b2", 21),
      (3L, "c", 30), (4L, "d", 40)).toDF("id", tag, "v")
    val second = Seq((10L, "x", 100), (11L, "y", 110), (12L, "z", 120))
      .toDF("id", tag, "v")
    commitSnapshot(spark, table, first)
    commitSnapshot(spark, table, second)
    // source: update id 2 (dup target), delete id 3 (marked), insert
    // id 5, NULL-keyed row (always a plain insert), delete-marked id 99
    // (matches nothing — must NOT insert)
    val src = Seq(
      (Some(2L), "B", 200, false),
      (Some(3L), "dead", 0, true),
      (Some(5L), "e", 50, false),
      (None, "nul", 60, false),
      (Some(99L), "ghost", 0, true))
      .toDF("id", tag, "v", "retract")
    // the target files holding a source key: the ones the MERGE rewrites
    val matchedFiles = readSnapshot(spark, table)
      .select(col("id"), input_file_name().as("f"))
      .join(src.select("id"), Seq("id"), "left_semi")
      .select("f").distinct().count()
    assert(matchedFiles >= 1)
    val (_, nFiles, nIns) = mergeInto(spark, table, src, "id",
      deleteWhen = Some(col("retract")))
    val rows = readSnapshot(spark, table)
      .orderBy("id", tag, "v").collect().toSeq
    // the two-join oracle over the same inputs: target rows no source
    // row matches carry (anti-join); each target row an unmarked source
    // row matches takes that row's columns (inner join); unmarked source
    // rows no target row matches insert
    val old = first.unionByName(second)
    val upSrc = src.where(!col("retract")).select("id", tag, "v")
    val carried = old.join(src.select("id"), Seq("id"), "left_anti")
    val updated = old.select("id").join(upSrc, Seq("id"), "inner")
    val inserts = upSrc.join(old.select("id"), Seq("id"), "left_anti")
    val expected = carried.unionByName(updated).unionByName(inserts)
      .orderBy("id", tag, "v").collect().toSeq
    assert(nFiles == matchedFiles,
      s"rewrote $nFiles files; $matchedFiles hold a source key")
    (rows, nIns, expected, inserts.count())
  }

  // The ordinary column, then names Spark resolves onto the rewrite's
  // internal aliases (it compares column names case-insensitively) or
  // onto their `k` / `del` suffixes: none may clash with an alias
  private val cases =
    ("tag" -> "fused COW merge == two-join form, all clauses") +:
      Seq("__GRAFT_MS_K", "__Graft_Ms_del", "__graft_ms_k", "k", "DEL")
        .map(n => n -> s"fused COW merge == two-join form, column named $n")
  cases.zipWithIndex.foreach { case ((tag, name), i) =>
    test(name) {
      val (rows, nIns, expected, expectedIns) =
        runMerge(s"merge_fused_$i", tag)
      assert(rows == expected, s"fused=$rows\ntwo-join=$expected")
      assert(nIns == expectedIns)
      // sanity on the semantics themselves, not just agreement with
      // the oracle
      val byId = rows.filterNot(_.isNullAt(0)).groupBy(_.getLong(0))
      assert(!byId.contains(3L), "deleteWhen row must leave the table")
      assert(!byId.contains(99L),
        "delete-marked unmatched row must not insert")
      assert(byId(2L).size == 2 &&
        byId(2L).forall(r => r.getString(1) == "B" && r.getInt(2) == 200),
        s"both duplicate target rows must take the source values: $rows")
      assert(byId(5L).size == 1, "not-matched source row must insert")
      assert(rows.count(_.isNullAt(0)) == 1,
        "NULL-keyed source row inserts")
      assert(byId(10L).size == 1 && byId(11L).size == 1 &&
        byId(12L).size == 1, "untouched file rows must carry")
    }
  }
}
