package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Dev tool: the as-of join cost crossover. At catalog scale (sf0.1,
  * ~0.2s) the union+window plan (q39) wins on fixed costs — one scan,
  * one exchange, one stage fewer. This generates enough rows that
  * per-row cost dominates, where the custom sort-merge node (q49's
  * plan) should win: it shuffles each side once with NO window buffer
  * and a codegen'd single-pass merge, and its advantage widens with
  * payload width (the window plan drags every payload column through
  * its own `last(_, ignoreNulls)` window column AND unions the left
  * side with a null column per payload). The recorded crossover table
  * lives in NOTES_r7.md. Usage:
  * runMain graft.tools.AsofScaleBench [leftRows] [rightRows] [keys] [payloadCols]
  */
object AsofScaleBench {
  def main(args: Array[String]): Unit = {
    val nLeft = args.lift(0).map(_.toLong).getOrElse(20000000L)
    val nRight = args.lift(1).map(_.toLong).getOrElse(4000000L)
    val nKeys = args.lift(2).map(_.toLong).getOrElse(100000L)
    val nPayload = args.lift(3).map(_.toInt).getOrElse(1)
    val spark = graft.core.Session.start("ERROR")

    val payloadNames = (0 until nPayload).map(i => s"p$i")
    val left = spark.range(nLeft).select(
      (col("id") % nKeys).as("k"), col("id").as("lid"),
      ((col("id") * 2654435761L) % 1000000L).as("t"))
    val right = spark.range(nRight).select(
      (col("id") % nKeys).as("rk") +:
        ((col("id") * 40503L) % 1000000L).as("rt") +:
        payloadNames.map(p => (col("id") * 7L).as(p)): _*)

    // consume the joined values (checksum), so Catalyst can't prune the
    // window/merge work away the way a bare count() would
    def timeIt(tag: String)(f: => Any): Unit =
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime(); val n = f
        println(f"$tag pass$i: ${(System.nanoTime() - t0) / 1e9}%.2f s (sum=$n)")
      }

    val payloadSum = payloadNames
      .map(p => coalesce(col(p), lit(0L)))
      .foldLeft(coalesce(col("rt"), lit(0L)))(_ + _)
    timeIt("asof-custom") {
      graft.plans.AsofJoin.backward(
          left, right, Seq("k"), Seq("rk"), "t", "rt")
        .agg(sum(payloadSum)).head().getLong(0)
    }
    timeIt("union-window") {
      val l2 = left.select(
        col("k") +: col("lid") +: col("t") +:
          lit(null).cast("long").as("rt") +:
          payloadNames.map(p => lit(null).cast("long").as(p)) :+
          lit(1).as("tag"): _*)
      val r2 = right.select(
        col("rk").as("k") +: lit(null).cast("long").as("lid") +:
          col("rt").as("t") +: col("rt") +:
          payloadNames.map(col) :+ lit(0).as("tag"): _*)
      val w = Window.partitionBy("k").orderBy(col("t"), col("tag"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val lastPayload = ("rt" +: payloadNames).foldLeft(l2.unionByName(r2)) {
        (df, p) => df.withColumn(s"last_$p", last(p, ignoreNulls = true).over(w))
      }
      val lastSum = payloadNames
        .map(p => coalesce(col(s"last_$p"), lit(0L)))
        .foldLeft(coalesce(col("last_rt"), lit(0L)))(_ + _)
      lastPayload
        .where(col("tag") === 1)
        .agg(sum(lastSum)).head().getLong(0)
    }
    spark.stop()
  }
}
