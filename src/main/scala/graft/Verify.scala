package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** A comma-separated query-name knob (`SPARK_GRAFT_VERIFY_ONLY`,
    * `SPARK_GRAFT_VERIFY_EXCEPT`, `SPARK_GRAFT_BENCH_ONLY`) as a name
    * set. A list that names nothing, or names a query outside `known`,
    * is refused with the knob and its value: a typo must not silently
    * shrink or empty the run.
    */
  private[graft] def queryNames(
      knob: String, value: String, known: Set[String]): Set[String] = {
    val names = value.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- known
    if (names.isEmpty || unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"$knob='$value' must list known query names" +
          (if (unknown.isEmpty) "" else s"; unknown: ${unknown.toSeq.sorted.mkString(", ")}"))
    names
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // developer knob: restrict to a comma-separated query subset (the
    // driver never sets it, so gate runs always cover the catalog)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(queryNames("SPARK_GRAFT_VERIFY_ONLY", _, SparkEntry.queries.keySet))
    // developer knob for the large-SF evidence sweeps: run the WHOLE
    // catalog EXCEPT a named exclusion list — "catalog minus named
    // exclusions" is structurally complete (a new query runs by
    // default; forgetting it is impossible), unlike a hand-maintained
    // ONLY list which silently misses additions (the r15 q117 lesson).
    // Excluded names are logged loudly so the evidence file records
    // them; names not in the catalog fail fast (a stale exclusion is
    // a typo, not a request).
    val except = sys.env.get("SPARK_GRAFT_VERIFY_EXCEPT")
      .map(queryNames("SPARK_GRAFT_VERIFY_EXCEPT", _, SparkEntry.queries.keySet))
      .getOrElse(Set.empty[String])
    except.toSeq.sorted.foreach(n =>
      System.err.println(s"[verify] $n EXCLUDED by SPARK_GRAFT_VERIFY_EXCEPT"))
    val spark = graft.core.Session.start()
    new java.io.File(outDir).mkdirs()
    var ran, failed = 0
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .filter { case (name, _) => !except.contains(name) }
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): both yield the single part
      // file the gate reads, but coalesce collapses the query's whole
      // final stage (often a large hash aggregate) into one task —
      // at audit scales that serializes minutes of parallel work.
      // The extra exchange moves only the (small) result rows.
      val t0 = System.nanoTime()
      try {
        graft.sinks.Sinks.writeTable(fn(spark, sfDir).repartition(1),
          s"$outDir/$name")
        ran += 1
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // query boundary: release the query's staged one-shot checkpoints
      // so a 139-query gate run doesn't accumulate pinned blocks
      graft.core.StagingScope.drain()
    }
    // completeness footer: the evidence file must account for every
    // catalog entry — run + failed + excluded-by-name must sum to the
    // catalog (when no ONLY restriction is active)
    System.err.println(s"[verify] catalog=${SparkEntry.queries.size} " +
      s"ran=$ran failed=$failed " +
      s"excluded=${except.size}" +
      (if (only.isDefined) " (ONLY restriction active)" else ""))
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
