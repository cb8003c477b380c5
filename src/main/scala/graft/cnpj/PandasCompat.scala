package graft.cnpj

import java.util.regex.Pattern

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Pandas/SQLite-compat rendering of the flagship projection (SURVEY.md
  * §1.3 / §7.4.2): reproduces the golden `data/resultado_final.csv`
  * artifacts WITHOUT letting them into the engine — the warehouse stays
  * canonically typed; this is a presentation-layer projection applied only
  * at export time.
  *
  * The artifacts, and where they come from in the reference
  * (ETLCNPJFinalEmpresaEstabelecimentos.py:186-188):
  *
  *   - SQLite NUMERIC affinity converts digit-string cells of
  *     NUMERIC-declared columns (numero, ddd*, telefone* — DDL :147-157)
  *     to INTEGER at insert, which also strips leading zeros.
  *   - `pd.read_sql_query` then types each COLUMN from its cells:
  *     all-int+no-NULL → int64 ("11"); all-int+some-NULL → float64
  *     ("11.0", the golden row-2 artifact); any TEXT cell → object
  *     (ints render "11", text passes through).
  *   - `capital_social` never parses as a number (decimal comma) → TEXT,
  *     so the golden file shows "195400,00".
  *   - `nome_municipio` keeps its fixed-width padding (no trim anywhere).
  *
  * Like `pd.read_sql_query`, the rendering reads each column's dtype from
  * the one result it already holds: the two facts per affinity column
  * (any TEXT cell? any NULL?) are read from the rows of a driver-local
  * frame, and each column then gets one fixed expression. Over a
  * `LocalRelation` the projection folds into the relation, so rendering
  * schedules no job.
  */
object PandasCompat {

  /** Flagship output columns that the reference DDL declares NUMERIC and
    * therefore pick up affinity typing (:147, :153-156). */
  private val affinityCols = Seq("numero", "ddd1", "telefone1", "ddd2",
    "telefone2")

  /** An INTEGER-affinity cell: the test `rlike` applies, `find` on the
    * pattern, whose `$` also matches before a final line terminator. */
  private val IntText = "^[0-9]+$"
  private val intTextPattern = Pattern.compile(IntText)

  /** Render the compat projection of `frame`, a DRIVER-LOCAL frame with
    * the flagship's output columns and canonical types (the sorted rows
    * `Pipeline` collects, its only caller). Output: all columns rendered
    * exactly as the reference's pandas `to_csv` would. The dtype flags
    * are read by collecting `frame`, which runs no job for a
    * `LocalRelation`; a distributed `frame` would be evaluated twice,
    * once for the flags and once by the projection. */
  def apply(frame: DataFrame): DataFrame = {
    val rows = ColumnBridge.collectInternal(frame)
    val cols = Flagship.outputCols.map {
      case n if affinityCols.contains(n) =>
        val i = frame.schema.fieldIndex(n)
        val hasNull = rows.exists(_.isNullAt(i))
        val hasText = rows.exists(r => !r.isNullAt(i) &&
          !intTextPattern.matcher(r.getUTF8String(i).toString).find())
        val c = col(n)
        val asInt = c.cast("long").cast("string") // zeros stripped
        (if (hasText) when(c.rlike(IntText), asInt).otherwise(c) // object
         else if (hasNull) concat(asInt, lit(".0")) // float64: NaN widened
         else asInt).as(n) // int64
      case "capital_social" =>
        // DECIMAL(18,2) back to the Brazilian comma form SQLite kept as TEXT
        regexp_replace(col("capital_social").cast("string"), "\\.", ",")
          .as("capital_social")
      case n => col(n)
    }
    frame.select(cols: _*)
  }
}
