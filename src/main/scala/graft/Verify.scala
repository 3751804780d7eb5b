package graft
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkBoot.session(SparkBoot.cpus(default = 4))
    new java.io.File(outDir).mkdirs()
    // Dev-only: SPARK_GRAFT_ONLY=q_a,q_b restricts the dump; the driver
    // never sets it, so its runs always cover every query.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }
    // A query that throws must be LOUD in the correctness artifact, not
    // silently absent (round 13 shrank 135->125 with zero red rows). On
    // failure: record the message AND write a zero-row sentinel-schema
    // parquet in the query's slot — red under the oracle compare
    // (schema/row mismatch) and under the weaker rows-only check
    // (0 rows), whichever the harness applies.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures(name) = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        spark.createDataFrame(new java.util.ArrayList[Row](),
            StructType(Seq(StructField("__verify_error", StringType))))
          .write.mode("overwrite").parquet(s"$outDir/$name")
      }
      // Queries that persist an intermediate (the dataset card's narrow
      // frame) rely on the caller to release it; Verify runs them all in
      // one session, so clear the cache per query like Bench does —
      // otherwise entries accumulate for the whole run (ADVICE r14).
      finally spark.catalog.clearCache()
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
    // Failure manifest + full query roster: selfcheck.py surfaces
    // failures as err rows and asserts |results| == |manifest| so a
    // query can never vanish from the artifact unnoticed.
    Files.writeString(Paths.get(s"$outDir/failures.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      selected.keys.map(q).mkString("[", ",", "]"))
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size}/${selected.size} " +
        s"queries FAILED: ${failures.keys.mkString(", ")}")
    spark.stop()
  }
}
