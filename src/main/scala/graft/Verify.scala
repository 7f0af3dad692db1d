package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** House rule (round 9, after the r8 manifest red): every emitted
    * numeric cell stays within int64 — the driver's type-sensitive
    * hasher canonicalizes out-of-int64-range decimals differently
    * between Spark parquet and DuckDB's int128-backed decimal, so a
    * value-correct wide cell still hash-fails. Integral types fit by
    * construction; a DECIMAL column with precision > 18 CAN breach,
    * so its dumped values are range-checked here and a breach fails
    * the query row loudly (an err in the driver artifact beats a
    * silent hash mismatch). Known hazard class members: the manifest
    * digest (fixed r9 — wrapped mod 2⁶⁴) and corr_matrix's ·10⁶
    * numerators (internal-only; its emitted quotients are doubles).
    */
  private def assertInt64Hashable(spark: SparkSession, name: String,
                                  path: String): Unit = {
    import org.apache.spark.sql.types.DecimalType
    import org.apache.spark.sql.functions.{abs, col, lit, max}
    val df = spark.read.parquet(path)
    val wide = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[DecimalType] &&
        f.dataType.asInstanceOf[DecimalType].precision > 18 => f.name
    }
    if (wide.nonEmpty) {
      val bound = new java.math.BigDecimal("9223372036854775807")
      val maxes = df.agg(max(abs(col(wide.head))),
        wide.tail.map(c => max(abs(col(c)))): _*).head()
      wide.zipWithIndex.foreach { case (c, i) =>
        if (!maxes.isNullAt(i) &&
            maxes.getDecimal(i).compareTo(bound) > 0)
          throw new IllegalStateException(
            s"int64-hashable rule: $name.$c emits |value| " +
              s"${maxes.getDecimal(i)} > int64 max — wrap, rescale, " +
              "or emit as string (see ops/Manifest.wrapSigned64)")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the production session shape: the optimizer rules (broadcast
    // demotion, contains-OR → Aho-Corasick collapse) are active in the
    // oracle-checked path, so `blocklist_declared` is verified THROUGH
    // the rewrite
    val spark = GraftSession.local(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // optional comma-separated filter for targeted local runs (the
    // driver leaves it unset and dumps everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        try assertInt64Hashable(spark, name, s"$outDir/$name")
        catch { case e: Throwable =>
          // a breaching query must leave NO artifact: the dump is
          // already on disk at this point, and check.py / the driver
          // would happily hash it — deleting it turns the breach into
          // a loud missing-result err instead of a quiet mismatch
          org.apache.commons.io.FileUtils
            .deleteQuietly(new java.io.File(s"$outDir/$name"))
          throw e
        }
      }
      catch { case e: Throwable =>
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
}
