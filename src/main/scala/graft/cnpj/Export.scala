package graft.cnpj

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.graft.ColumnBridge

/** CSV export sink (SURVEY.md §2.1 S7).
  *
  * S7 (final export): the reference writes utf-8-sig, i.e. a UTF-8 BOM
  * (EF BB BF) before the header (pandas to_csv encoding="utf-8-sig",
  * ETLCNPJFinalEmpresaEstabelecimentos.py:187). Spark never emits a BOM,
  * and one file is serial by nature, so the export is written on the
  * driver from the collected rows — an export-for-humans step kept OUT
  * of the distributed path (at 100 TB you keep a sharded CSV write; one
  * file is a single writer no matter the engine).
  */
object Export {

  /** S7: single `;`-CSV file, UTF-8 with BOM, header once — byte-compatible
    * with the reference's pandas export. `df` is collected in its own
    * order (a driver-local frame, as `Pipeline.run` passes, runs no job)
    * and rendered by Spark's own CSV row writer, `UnivocityGenerator`,
    * under the options Spark's CSV data source would write with, so each
    * line holds the bytes `df.write.csv` writes for its row. The two
    * whitespace options matter: Spark's CSV WRITER trims cell whitespace
    * by default, which would destroy the golden file's fixed-width
    * padding (nome_municipio, SURVEY §1.3) — pandas to_csv never trims.
    *
    * The rows are written to a temporary file beside `outFile`, in its
    * own directory, which is moved onto `outFile` in one rename: a failed
    * export leaves `outFile` as it was, never truncated, and the rename
    * never crosses a filesystem, wherever `outFile` lives. `dir` is
    * unused: it named where the temporary file went, and a directory on
    * another filesystem made the atomic move throw. Every row passes
    * through the driver, so the export is bounded by
    * `spark.driver.maxResultSize`; a larger result fails the collect
    * loudly rather than writing part of it. */
  def writeCsvUtf8SigSingle(df: DataFrame, dir: String, outFile: File)
      : Unit = {
    val spark = df.sparkSession
    val options = new CSVOptions(Map(
        "sep" -> ";", "header" -> "true", "encoding" -> "UTF-8",
        "ignoreLeadingWhiteSpace" -> "false",
        "ignoreTrailingWhiteSpace" -> "false"),
      spark.sessionState.conf.csvColumnPruning,
      spark.sessionState.conf.sessionLocalTimeZone)
    val rows = ColumnBridge.collectInternal(df)
    val tmp = Files.createTempFile(Files.createDirectories(
      outFile.getAbsoluteFile.getParentFile.toPath), ".export-", ".csv")
    try {
      val writer = new OutputStreamWriter(new BufferedOutputStream(
        new FileOutputStream(tmp.toFile)), StandardCharsets.UTF_8)
      try {
        writer.write('\uFEFF') // the BOM: EF BB BF in UTF-8
        val gen = new UnivocityGenerator(df.schema, writer, options)
        gen.writeHeaders()
        rows.foreach(gen.write)
        gen.close()
      } finally writer.close()
      Files.move(tmp, outFile.toPath, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }
}
