package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    new java.io.File(outDir).mkdirs()
    // builder-side iteration aid: GRAFT_VERIFY_ONLY=q_a,q_b dumps a subset
    // (the driver never sets it, so graded runs always cover everything)
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(ks) => SparkEntry.queries.filter { case (n, _) => ks(n) }
      case None => SparkEntry.queries
    }
    // Failures must be LOUD artifacts, not stderr lines: in round 5 a loader
    // break silently removed 58/143 queries from the correctness dump and the
    // hole went unnoticed (no row ≠ red row). Every throw is now recorded in
    // _failed.json, and the dump asserts dumped + failed == selected.
    var failed = Map.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(2000)
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
    val failedJson = failed.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failedJson)
    // The selected-key manifest closes the last silent-hole mode: a query
    // missing BOTH its parquet dir and a _failed.json entry (verify killed
    // mid-dump, stale outDir). check_oracle exits non-zero unless
    // checked + threw covers exactly this list.
    val manifestJson = selected.keys.toSeq.sorted.map(q).mkString(
      s"""{"selected": [""", ",",
      s"""], "dumped": ${selected.size - failed.size}, "failed": ${failed.size}}""")
    Files.writeString(Paths.get(s"$outDir/_manifest.json"), manifestJson)
    val dumped = selected.size - failed.size
    System.err.println(
      s"[verify] dumped=$dumped failed=${failed.size} selected=${selected.size}")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] FAILED keys: ${failed.keys.toSeq.sorted.mkString(", ")}")
      // GRAFT_VERIFY_STRICT=1 (builder's local gate) turns a partial dump into
      // a non-zero exit. The driver-run default stays exit-0 so the successful
      // dumps + _failed.json still reach the DuckDB compare intact.
      if (sys.env.get("GRAFT_VERIFY_STRICT").contains("1")) sys.exit(1)
    }
  }
}
