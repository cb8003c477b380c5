package graft.cnpj

import java.io.{BufferedInputStream, File, FileInputStream, FileOutputStream}

import org.apache.spark.sql.DataFrame

/** CSV export sink (SURVEY.md §2.1 S7).
  *
  * S7 (final export): the reference writes utf-8-sig, i.e. a UTF-8 BOM
  * (EF BB BF) before the header (pandas to_csv encoding="utf-8-sig",
  * ETLCNPJFinalEmpresaEstabelecimentos.py:187). Spark never emits a BOM,
  * so the single-file+BOM form is a driver-side merge of the sharded
  * output — an export-for-humans step kept OUT of the distributed path
  * (at 100 TB you keep the shards; merging to one file is inherently
  * serial no matter the engine).
  */
object Export {

  /** S7: single `;`-CSV file, UTF-8 with BOM, header once — byte-compatible
    * with the reference's pandas export. Spark writes shards (in parallel,
    * each with a header); the driver concatenates keeping only the first
    * shard's header and prepending the BOM. The two whitespace options
    * matter: Spark's CSV WRITER trims cell whitespace by default, which
    * would destroy the golden file's fixed-width padding (nome_municipio,
    * SURVEY §1.3) — pandas to_csv never trims. */
  def writeCsvUtf8SigSingle(df: DataFrame, dir: String, outFile: File)
      : Unit = {
    df.write.mode("overwrite")
      .option("sep", ";").option("header", "true")
      .option("encoding", "UTF-8")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(dir)
    mergeShards(new File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .sortBy(_.getName).toSeq, outFile)
  }

  /** BOM, then the shards in order, each after the first without its
    * header line (up to and including its first `\n`). Streamed shard by
    * shard, so no shard's size is bounded by a byte array's. */
  private[graft] def mergeShards(parts: Seq[File], outFile: File): Unit = {
    val out = new FileOutputStream(outFile)
    try {
      out.write(Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte)) // BOM
      parts.zipWithIndex.foreach { case (p, i) =>
        val in = new BufferedInputStream(new FileInputStream(p))
        try {
          if (i > 0) {
            var b = in.read()
            while (b != -1 && b != '\n') b = in.read()
          }
          in.transferTo(out)
        } finally in.close()
      }
    } finally out.close()
  }
}
