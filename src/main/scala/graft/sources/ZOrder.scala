package graft.sources

import graft.functions.NativeExprs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Z-order (Morton-curve) clustering for multi-column data skipping.
  *
  * A table range-clustered on ONE column prunes beautifully on that
  * column and not at all on any other; interleaving the BITS of
  * per-column quantile ranks gives every clustered column locality
  * proportional to 2^-(bits/k), so the footer-stats skipping layer
  * (Warehouse's one `prune`, behind every pruned read and the
  * auto-skip rule) prunes on ANY of them. This is the same
  * layout idea Delta OSS's OPTIMIZE ZORDER BY implements.
  *
  * Scale shape: one `approxQuantile` pass for the numeric columns (a
  * distributed sketch; the driver receives ≤ 2^bits boundaries per
  * column — bytes, not rows) plus one bounded hash-sample pass per
  * STRING column, then a pure codegen'd projection (binary-search
  * bucket + bit interleave — no UDFs), then ONE repartitionByRange
  * shuffle on the z-value. That single shuffle is the cost of the
  * layout; it buys every subsequent range scan on any clustered column
  * a file-list pruned by ~2^-(bits/k). Quantile buckets (not min/max
  * scaling) keep the curve balanced under skew — each bucket holds
  * ~1/2^bits of the rows regardless of the value distribution.
  *
  * String columns (url_host, lang, source) rank by boundaries in
  * UNSIGNED BYTE order — the same order parquet writes binary footer
  * stats and the prune compares with (FileStats.cmpBytes), so the
  * layout's clustering and the reader's pruning agree exactly.
  * Boundaries come from a deterministic value-level sample: keep the
  * values whose xxhash64 falls in the smallest ~cap/rows slice of hash
  * space (the same value always samples the same way — re-runs are
  * reproducible), sort the ≤~cap distinct survivors on the driver,
  * take evenly spaced cut points. Value-level sampling means string
  * buckets balance by DISTINCT values, not row mass — a single hot
  * domain still lands in one bucket (its file range is then narrow,
  * which is what pruning wants).
  *
  * Nulls: a null in any clustered column yields a null z-value; range
  * partitioning groups those together (nulls first), which is exactly
  * the "null block" a reader pruning on values skips.
  */
object ZOrder {

  /** Cluster `df` into `numFiles` z-ordered output partitions on
    * `cols` (numeric/castable-to-double, or string). `bits` quantile
    * bits per column (default 8 → 256 buckets/column); `sampleCap`
    * bounds the per-string-column driver sample.
    */
  def cluster(df: DataFrame, cols: Seq[String], numFiles: Int,
      bits: Int = 8, sampleCap: Int = 65536): DataFrame = {
    require(cols.size >= 2, "z-order needs ≥2 columns (use repartitionByRange for 1)")
    require(bits >= 1 && bits * cols.size <= 62, s"bits=$bits × ${cols.size} cols must fit a long")
    val spark = df.sparkSession
    val strCols = cols.filter(c => df.schema(c).dataType == StringType)
    val numCols = cols.filterNot(strCols.contains)
    val dcols = numCols.map(c => s"_zd_$c")
    val dd = numCols.foldLeft(df)((d, c) => d.withColumn(s"_zd_$c", col(c).cast("double")))
    // one distributed sketch pass for ALL numeric columns' boundaries
    val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
    val numBounds: Map[String, Array[Double]] =
      if (numCols.isEmpty) Map.empty
      else numCols.zip(dd.stat.approxQuantile(dcols.toArray, probs, 0.001)).toMap
    // string columns: one row count (sets the sample rate), then one
    // bounded deterministic sample per column
    val rowCount = if (strCols.isEmpty) 0L else df.count()
    val strBounds: Map[String, Array[String]] =
      strCols.map(c => c -> stringBounds(df, c, rowCount, bits, sampleCap)).toMap
    val buckets: Seq[Column] = cols.map { c =>
      if (strBounds.contains(c))
        NativeExprs.sortedBucketStr(spark, col(c), strBounds(c)).cast("long")
      else
        NativeExprs.sortedBucket(spark, col(s"_zd_$c"),
          numBounds(c).distinct.sorted).cast("long")
    }
    // interleave: bit i of column j lands at position i*k + j — round-
    // robin so every column's high bits rank equally in the sort key
    val k = cols.size
    val z = (0 until bits).flatMap { i =>
      buckets.zipWithIndex.map { case (bc, j) =>
        shiftleft(shiftright(bc, i).bitwiseAND(lit(1L)), i * k + j)
      }
    }.reduce(_.bitwiseOR(_))
    dd.withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop(dcols :+ "_z": _*)
  }

  /** Evenly spaced byte-order cut points from a deterministic
    * value-level hash sample of `c` (empty ⇒ every row buckets to 0,
    * the column simply stops contributing z-bits — never wrong, just
    * unclustered).
    */
  private def stringBounds(df: DataFrame, c: String, rowCount: Long,
      bits: Int, sampleCap: Int): Array[String] = {
    val mod = 1L << 20
    val keep = math.max(1L, math.min(mod,
      (sampleCap.toDouble / math.max(1L, rowCount) * mod).toLong))
    val sampled = df.filter(col(c).isNotNull)
      .filter(pmod(xxhash64(col(c)), lit(mod)) < keep)
      .select(col(c)).distinct().collect().map(_.getString(0))
    val sorted = sampled.sortWith((a, b) =>
      FileStats.cmpBytes(a.getBytes("UTF-8"), b.getBytes("UTF-8")) < 0)
    if (sorted.isEmpty) Array.empty
    else {
      val n = 1 << bits
      (1 until n).map(i => sorted((i.toLong * sorted.length / n).toInt))
        .distinct.toArray
    }
  }
}
