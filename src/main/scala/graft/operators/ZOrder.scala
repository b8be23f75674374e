package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton curve) data layout for multi-dimensional file skipping.
  *
  * At 100 TB a scan that filters on TWO OR MORE columns gets nothing from a
  * single-column sort: files are narrow in the sort key and span the full
  * range of every other column, so min/max footer stats prune only one
  * dimension. Interleaving the bits of the (grid-normalized) dimensions
  * into one Morton key and range-partitioning + sorting on it makes every
  * output file a small hyper-rectangle — each dimension's per-file min/max
  * range shrinks to ~2^-(bits_shared/k) of the domain, and predicates on
  * ANY subset of the z-ordered columns skip files. This is the standing
  * layout the reference never needs (single-process, in-memory) but a
  * Spark lake lives by.
  *
  * Everything is unrolled literal-shift expressions — fully codegen'd,
  * no UDF, no shuffle beyond the ONE
  * `repartitionByRange` the layout itself is.
  */
object ZOrder {

  /** Interleave the low `bits` bits of `k` already-normalized non-negative
    * int columns into one Morton key: result bit `b*k + i` = bit `b` of
    * column `i`. Columns must be pre-scaled to `[0, 2^bits)` — see
    * [[normalizeToGrid]]. `k * bits` must fit a long (≤ 63).
    *
    * The double loop unrolls at plan-build time into pure shift/mask/or
    * terms over each column reference — cheap per reference, so safe to
    * inline (unlike array-valued sketch expressions, which must be staged).
    */
  def interleaveBits(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty && cols.size * bits <= 63,
      s"${cols.size} cols x $bits bits must be in (0, 63]")
    val terms = for {
      (c, i) <- cols.zipWithIndex
      b      <- 0 until bits
    } yield shiftleft(shiftright(c.cast("long"), b).bitwiseAND(lit(1L)), b * cols.size + i)
    terms.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Scale a numeric column with KNOWN bounds onto the `[0, 2^bits)` grid:
    * `(x - lo) * 2^bits div (hi - lo + 1)` in exact integer math (identical
    * in any engine — `div` is Spark's IntegralDivide, not the `/` double
    * division), clamped into the grid for out-of-bounds stragglers. */
  def gridCell(c: Column, lo: Long, hi: Long, bits: Int): Column = {
    require(hi > lo, s"bounds [$lo, $hi] must be a non-empty range")
    // (x - lo) * 2^bits must fit a long or the cells are silent garbage —
    // refuse loudly; normalizeToGrid pre-shifts wide ranges automatically
    require(hi - lo > 0 && hi - lo <= (Long.MaxValue >> bits) - 1,
      s"range [$lo, $hi] x 2^$bits overflows the 64-bit intermediate — " +
        "shift the inputs down first (normalizeToGrid does this itself)")
    val cells = 1L << bits
    val scaled = call_function("div",
      (c.cast("long") - lit(lo)) * lit(cells), lit(hi - lo + 1))
    greatest(lit(0L), least(lit(cells - 1), scaled))
  }

  /** Normalize `cols` of `df` onto the grid using observed min/max — ONE
    * tiny agg job (2 scalars per column to the driver), then per-row
    * arithmetic. Returns (df with `__z_<col>` grid columns, grid columns). */
  def normalizeToGrid(df: DataFrame, cols: Seq[String], bits: Int): (DataFrame, Seq[Column]) = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c).cast("long")).as(s"lo_$c"), max(col(c).cast("long")).as(s"hi_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0) // 2 longs per col
    val withCells = cols.foldLeft(df) { (d, c) =>
      // empty input (or an all-null column after cast) makes min/max NULL;
      // getAs would silently unbox that to 0L — take the degenerate
      // single-cell branch explicitly instead
      val loIdx = row.fieldIndex(s"lo_$c"); val hiIdx = row.fieldIndex(s"hi_$c")
      if (row.isNullAt(loIdx) || row.isNullAt(hiIdx)) d.withColumn(s"__z_$c", lit(0L))
      else {
      val lo = row.getLong(loIdx); val hi = row.getLong(hiIdx)
      if (hi <= lo) d.withColumn(s"__z_$c", lit(0L))
      else {
        // wide observed ranges (hashed ids spanning the long domain) would
        // overflow gridCell's (x-lo)*2^bits multiply — pre-shift so the
        // span keeps 62-bits headroom; dropping low bits loses nothing the
        // 2^bits grid would have kept anyway
        val span = hi - lo // < 0 iff the true span exceeds Long.MaxValue
        val magBits = if (span < 0) 64 else 64 - java.lang.Long.numberOfLeadingZeros(span)
        val shift = math.max(0, magBits - (62 - bits))
        val cell =
          if (shift == 0) gridCell(col(c).cast("long") - lit(lo), 0L, span, bits)
          else {
            // ANSI mode throws on the wrapped `x - lo`, so shift FIRST —
            // in unsigned-monotone space (XOR the sign bit maps signed
            // order to unsigned order), where >>> keeps ordering and the
            // post-shift subtraction cannot overflow
            val uLo = (lo ^ Long.MinValue) >>> shift
            val uHi = (hi ^ Long.MinValue) >>> shift
            val uCol = shiftrightunsigned(
              col(c).cast("long").bitwiseXOR(lit(Long.MinValue)), shift)
            gridCell(uCol - lit(uLo), 0L, uHi - uLo, bits)
          }
        d.withColumn(s"__z_$c", cell)
      }
      }
    }
    (withCells, cols.map(c => col(s"__z_$c")))
  }

  /** Re-layout `df` clustered on the Morton curve of `cols`: normalize to
    * the grid, range-partition on the z-value (the only shuffle), sort
    * within partitions, drop the scaffolding. Write the result with any
    * sink — every file becomes a hyper-rectangle in `cols` space, so
    * min/max footer stats prune multi-dimensional predicates. */
  def layout(df: DataFrame, cols: Seq[String], bits: Int = 16,
             numPartitions: Int = 0): DataFrame = {
    val (withCells, gridCols) = normalizeToGrid(df, cols, bits)
    val z = withCells.withColumn("__zval", interleaveBits(gridCols, bits))
    val parted =
      if (numPartitions > 0) z.repartitionByRange(numPartitions, col("__zval"))
      else z.repartitionByRange(col("__zval"))
    parted.sortWithinPartitions("__zval")
      .drop("__zval" +: cols.map(c => s"__z_$c"): _*)
  }
}
