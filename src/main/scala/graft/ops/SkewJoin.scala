package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one hot-key split of the similarity joins. A key shared by many
  * rows — a boilerplate LSH bucket, a stop-gram, a popular SimHash
  * chunk, a dense posted dim — makes its join task quadratic in one
  * task; AQE's skew split cannot help, because every row of the key
  * must still meet every other. Both forms here are pure work
  * redistribution: the joined rows equal the unsplit join's.
  *
  * DF-SIZED SALT ([[selfJoin]], [[crossJoin]]): a key holding `df`
  * rows on the sized side splits into `g = ceil(df / cap)` salt groups
  * ([[saltGroups]]), sized from the observed document frequency, not a
  * static factor. Probe rows keep their own salt `pmod(xxhash64(id),
  * g)`; build rows fan out to every salt in `[0, g)`. Each (probe,
  * build) pair on a shared key therefore meets exactly once, the worst
  * task shrinks g-fold, and a key under `cap` (g = 1) is never
  * replicated. Each caller keeps its own join strategy
  * (`crossJoin`'s `strategy` hint on the fanned-out side).
  *
  * TRIANGLE GRID ([[gridSelfJoin]], the triangle form of
  * 1-Bucket-Theta, Okcan & Riedewald, SIGMOD 2011): for an all-pairs
  * self-join with no key to split on, rows hash to `numBlocks` blocks
  * ([[gridBlock]]) and meet on the upper-triangle cell grid.
  */
object SkewJoin {

  /** `ceil(df / cap)`: the salt groups a key holding `df` rows splits
    * into (a long column).
    */
  def saltCount(df: Column, cap: Int): Column = ceil(df / lit(cap))

  /** [[saltCount]] as the int column `g` the split reads. */
  def saltGroup(df: Column, cap: Int): Column =
    saltCount(df, cap).cast("int").as("g")

  /** The salt-group table `(keys, g)`: one `g` per key of `rows`. */
  def saltGroups(rows: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    rows.groupBy(keys.head, keys.tail: _*)
      .agg(saltGroup(count(lit(1)), cap))

  /** Salted self-join of `rows` (carrying `id`) on `keys`, split by the
    * keys' own df: one sized frame feeds both sides, each side is
    * `keys, salt` then its columns.
    */
  def selfJoin(
      rows: DataFrame,
      keys: Seq[String],
      cap: Int,
      probeCols: Seq[Column],
      buildCols: Seq[Column]): DataFrame = {
    val sized = rows.join(saltGroups(rows, keys, cap), keys)
    split(sized, sized, keys, probeCols, buildCols, identity)
  }

  /** Salted cross-join of `probe` (carrying `id`) and `build` on
    * `keys`, split by the caller's salt-group table `groups` — keys
    * absent from it drop on both sides. `strategy` places the join's
    * fanned-out build side (a broadcast or a hint).
    */
  def crossJoin(
      probe: DataFrame,
      build: DataFrame,
      groups: DataFrame,
      keys: Seq[String],
      probeCols: Seq[Column],
      buildCols: Seq[Column],
      strategy: DataFrame => DataFrame = identity): DataFrame =
    split(probe.join(groups, keys), build.join(groups, keys), keys,
      probeCols, buildCols, strategy)

  private def split(
      sizedProbe: DataFrame,
      sizedBuild: DataFrame,
      keys: Seq[String],
      probeCols: Seq[Column],
      buildCols: Seq[Column],
      strategy: DataFrame => DataFrame): DataFrame = {
    val probeSalt = pmod(xxhash64(col("id")), col("g")).cast("int").as("salt")
    val buildSalts = explode(sequence(lit(0), col("g") - 1)).as("salt")
    val probe = sizedProbe.select(keys.map(col) ++ (probeSalt +: probeCols): _*)
    val build = sizedBuild.select(keys.map(col) ++ (buildSalts +: buildCols): _*)
    probe.join(strategy(build), keys :+ "salt")
  }

  /** The grid block of a row: `pmod(xxhash64(id), numBlocks)`. */
  def gridBlock(id: Column, numBlocks: Int): Column =
    pmod(xxhash64(id), lit(numBlocks)).cast("int")

  /** Triangle-grid self-join of `v` (carrying `id` and its
    * [[gridBlock]] `blk`) within each value of `keys`. A row in block b
    * enters cell (b, j) on the left for every j ≥ b and cell (i, b) on
    * the right for every i ≤ b, so a pair with blocks (p, q) meets in
    * exactly the cell (min(p, q), max(p, q)): once off the diagonal, in
    * both orientations plus self-pairs on it, where only the `id_l <
    * id_r` copy is kept. Output: `keys, ci, cj, id_l, leftCols, id_r,
    * rightCols`, in some orientation per pair.
    */
  def gridSelfJoin(
      v: DataFrame,
      keys: Seq[String],
      numBlocks: Int,
      leftCols: Seq[Column],
      rightCols: Seq[Column]): DataFrame = {
    val left = v.select(keys.map(col) ++ (Seq(
      explode(sequence(col("blk"), lit(numBlocks - 1))).as("cj"),
      col("blk").as("ci"), col("id").as("id_l")) ++ leftCols): _*)
    val right = v.select(keys.map(col) ++ (Seq(
      explode(sequence(lit(0), col("blk"))).as("ci"),
      col("blk").as("cj"), col("id").as("id_r")) ++ rightCols): _*)
    left.join(right, keys ++ Seq("ci", "cj"))
      .where(col("ci") < col("cj") || col("id_l") < col("id_r"))
  }
}
