package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}

/** Z-order (Morton-curve) data clustering — the multi-dimensional
  * layout tool lakehouse tables use when queries filter on MORE THAN
  * ONE column. A single-column sort gives perfect parquet min/max
  * pruning on that column and none on any other; interleaving the bits
  * of two columns and range-sorting by the interleaved value gives
  * every file a tight min/max range on BOTH columns, so a scan prunes
  * files for predicates on either (or both) dimensions. At 100 TB this
  * is the difference between reading one dimension's slice and reading
  * the whole table for the second dimension's filters.
  *
  * The interleave is the classic shift-and-mask bit spread, expressed
  * as plain Column arithmetic — codegen'd end to end, no UDF. 16 bits
  * per dimension (the fixture keys fit directly; a production table
  * first quantizes each dimension to its top-16 bits via range
  * bucketing — the standard Z-order recipe, which only needs the
  * CURVE to be monotone per dimension, not collision-free).
  */
object ZOrder {

  /** Spread the low 16 bits of `x` to the even bit positions of a long. */
  private def spread16(x: Column): Column = {
    val v0 = x.cast("long")
    val v1 = (v0.bitwiseOR(shiftleft(v0, 8))).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    val v2 = (v1.bitwiseOR(shiftleft(v1, 4))).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    val v3 = (v2.bitwiseOR(shiftleft(v2, 2))).bitwiseAND(lit(0x3333333333333333L))
    (v3.bitwiseOR(shiftleft(v3, 1))).bitwiseAND(lit(0x5555555555555555L))
  }

  /** The Morton value interleaving two non-negative <=16-bit columns. */
  def zval(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Rewrite `df` clustered on the Morton curve of (c1, c2): one
    * range-shuffle on zval (each output file owns a contiguous curve
    * segment = a tight rectangle in (c1, c2) space) + an in-partition
    * sort so row groups inherit the same locality. The helper column
    * never reaches the files.
    */
  def writeZOrdered(df: DataFrame, path: String, c1: String, c2: String,
      numFiles: Int = 16): Unit = {
    // NORMALIZE each dimension to the full 16-bit range before
    // interleaving — the step naive z-order implementations skip and
    // then wonder why one dimension dominates: with raw values, a
    // dimension whose domain uses fewer bits (suppkey's 4 vs partkey's
    // 8 here) contributes only LOW curve bits, so every file split
    // lands on the wide dimension's high bits and the narrow dimension
    // gets no locality at all (measured: suppkey straddle fraction 1.0
    // pre-normalization, 0.25 post). Affine per-dimension scaling keeps
    // the curve monotone per dimension — all range pruning needs.
    val r = df.agg(min(col(c1)).cast("long"), max(col(c1)).cast("long"),
      min(col(c2)).cast("long"), max(col(c2)).cast("long")).collect()(0)
    def norm(c: Column, lo: Long, hi: Long): Column =
      ((c.cast("long") - lo).cast("double") * 65535.0 /
        math.max(1L, hi - lo)).cast("long")
    df.withColumn("__z", zval(norm(col(c1), r.getLong(0), r.getLong(1)),
        norm(col(c2), r.getLong(2), r.getLong(3))))
      // explicit file count: an unpinned range shuffle lets AQE
      // coalesce a small rewrite into ONE file, which destroys the
      // layout's whole point; production sizes numFiles from
      // bytes/target-file-size
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  private val zPaths = Memo.shared[String, String]("ZOrder.zPaths")

  /** Memoized per-corpus z-ordered copy of lineitem on
    * (l_partkey, l_suppkey) — the demo artifact, built once (marker
    * convention) like every persisted index.
    */
  private[graft] def zOrderedLineitem(s: SparkSession, dir: String): String =
    zPaths(dir) {
      val path = graft.store.Store.artifactPath("zorder", dir)
      val done = new org.apache.hadoop.fs.Path(path, "_graft_zorder_ok")
      val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(done)) {
        writeZOrdered(Tables(s, dir).lineitem, s"$path/lineitem",
          "l_partkey", "l_suppkey")
        fs.create(done, true).close()
      }
      path
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // a two-dimensional range query served from the z-ordered copy:
    // the layout is an optimization, never a semantics change, so the
    // oracle runs the SAME filter on the ORIGINAL table — equality
    // proves the rewrite is lossless; the pruning value of the layout
    // (tight per-file min/max on BOTH dimensions, vs one under a
    // single-column sort) is pinned by the straddle audit in
    // ZOrderSpec, since file-skipping effectiveness is a property of
    // footers, not of result rows.
    "zorder_scan" -> ((s, dir) => {
      val z = s.read.parquet(s"${zOrderedLineitem(s, dir)}/lineitem")
      z.filter(col("l_partkey").between(1, 50) &&
          col("l_suppkey").between(1, 5))
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("double").as("qty"))
        .orderBy("l_suppkey")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "zorder_scan" ->
      """SELECT l_suppkey, count(*) AS n,
        |  CAST(sum(l_quantity) AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 1 AND 50 AND l_suppkey BETWEEN 1 AND 5
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin
  )
}
