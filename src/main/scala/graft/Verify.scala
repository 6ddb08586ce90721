package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated query names (dev-only fast path).
    // A blank arg means "all" (not "none"); unknown names fail fast
    // instead of silently writing nothing with exit 0.
    val only: Option[Set[String]] =
      if (args.length > 2) {
        val names = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = names -- SparkEntry.queries.keySet
        require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
        if (names.isEmpty) None else Some(names)
      } else None
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        writeManifest(spark, name, outDir)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Diagnosability sidecar: `<out>/<name>.manifest.json` carries the
    * canonicalized result (columns sorted by name; per-value text norm
    * below; rows sorted) as per-COLUMN md5 hashes plus a bounded row
    * dump — so a downstream `hash_match: false` against an opaque
    * comparison harness pins the exact diverging column/row instead of
    * a bare boolean. Norm: null → "null"; floating point →
    * `Double.toString` (shortest round-trip — FULL precision, stricter
    * than a 10-digit render); binary → hex; everything else →
    * `toString`. Results are re-read from the written parquet so the
    * manifest certifies the exact bytes the gate will read. */
  private def writeManifest(spark: SparkSession, name: String,
                            outDir: String): Unit = {
    def nrm(v: Any): String = v match {
      case null => "null"
      case d: Double => d.toString
      case f: Float => f.toString
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case x => x.toString
    }
    val df = spark.read.parquet(s"$outDir/$name")
    val cols = df.columns.sorted
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect()
      .map(r => cols.indices.map(i => nrm(r.get(i))))
      .sortBy(_.mkString(""))
    def md5(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(x => f"$x%02x").mkString
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val colHashes = cols.indices.map { i =>
      s"${q(cols(i))}: ${q(md5(rows.map(_(i)).mkString("")))}"
    }.mkString(", ")
    val sample = rows.take(5).map(r =>
      "[" + r.map(q).mkString(", ") + "]").mkString(", ")
    val body =
      s"""{"query": ${q(name)}, "n_rows": ${rows.length},
         | "cols_sorted": [${cols.map(q).mkString(", ")}],
         | "col_md5": {$colHashes},
         | "all_md5": ${q(md5(rows.map(_.mkString("")).mkString("")))},
         | "first_rows_canonical": [$sample]}""".stripMargin
    Files.writeString(Paths.get(s"$outDir/$name.manifest.json"), body)
  }
}
