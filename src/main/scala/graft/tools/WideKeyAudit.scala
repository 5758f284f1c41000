package graft.tools

/** Dev/audit tool: the 128-bit gram-key PRICE TAG. Runs the two
  * gram-keyed operators (q63 APSS TF-IDF, q83 corpus-self substring
  * dedup) in both key widths at the given sfDir, asserts the results
  * are hash-consistent (sorted-row equality — a 64-bit collision at
  * audit scale would surface here as a diff), and prints wall times
  * with the wide/narrow cost ratio. GramKeySpec pins the equality at
  * test scale; this tool prices it at audit scale (the "flip this at
  * 10¹¹ grams" advice from the round-11 verdict).
  *
  * Usage: runMain graft.tools.WideKeyAudit [sfDir] [q63|q83|both]
  */
object WideKeyAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/repo/testdata_sf10")
    val which = args.lift(1).getOrElse("both")
    val spark = graft.core.Session.start()

    def timed(label: String)(df: => org.apache.spark.sql.DataFrame)
        : (Array[String], Double) = {
      val t0 = System.nanoTime()
      // canonical row strings, sorted — order-free equality at driver
      val rows = df.collect().map(_.toString).sorted
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[widekey] $label%-28s ${dt}%8.1fs rows=${rows.length}")
      (rows, dt)
    }

    if (which == "both" || which == "q63") {
      val (narrow, tn) = timed("q63 gramKey=64-bit") {
        graft.queries.Queries.apssTfidf(spark, sfDir, wideGramKeys = false) }
      val (wide, tw) = timed("q63 gramKey=128-bit") {
        graft.queries.Queries.apssTfidf(spark, sfDir, wideGramKeys = true) }
      // explicit error, not Scala assert: the equality gate is the
      // tool's whole point and must survive -Xdisable-assertions
      if (narrow.toSeq != wide.toSeq) sys.error(
        "q63 64- vs 128-bit gram keys DIVERGED — a hash collision " +
          "merged two grams' postings at this scale")
      println(f"[widekey] q63 hash-consistent; wide/narrow cost ${tw / tn}%.2fx")
    }
    if (which == "both" || which == "q83") {
      def q83(wide: Boolean) = graft.ops.Decontaminate.selfHitSpans(
        graft.core.Tables.documents(spark, sfDir), "text", "doc_id",
        n = 4, wideGramKeys = wide)
        .withColumnRenamed("id", "doc_id")
      val (narrow, tn) = timed("q83 gramKey=64-bit")(q83(wide = false))
      val (wide, tw) = timed("q83 gramKey=128-bit")(q83(wide = true))
      if (narrow.toSeq != wide.toSeq) sys.error(
        "q83 64- vs 128-bit gram keys DIVERGED — a hash collision " +
          "created a false excision span at this scale")
      println(f"[widekey] q83 hash-consistent; wide/narrow cost ${tw / tn}%.2fx")
    }
    spark.stop()
  }
}
