package graft.sources

import graft.TestSession.spark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reusable Z-order layout helper (VERDICT r10 #7): Morton arithmetic,
  * zone-interval containment, and prune-equals-flat-scan are pinned here so
  * every layout-aware consumer inherits verified planning machinery.
  */
class ZonedParquetSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  /** Reference Morton interleave: bit k of x to bit 2k, bit k of y to
    * bit 2k+1 — the definition the SQL expression must reproduce.
    */
  private def morton(x: Int, y: Int): Long =
    (0 until 8).map { k =>
      (((x >> k) & 1).toLong << (2 * k)) | (((y >> k) & 1).toLong << (2 * k + 1))
    }.sum

  test("mortonExpr matches the bitwise reference interleave on all 8-bit corners") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val cases = Seq((0, 0), (255, 255), (255, 0), (0, 255), (1, 2), (170, 85), (200, 13))
    val got = cases.toDF("xq", "yq")
      .select(col("xq"), col("yq"),
        expr(ZonedParquet.mortonExpr("xq", "yq")).as("z"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))
      .toMap
    cases.foreach { case (x, y) =>
      assert(got((x, y)) == morton(x, y), s"morton($x, $y)")
    }
    // locality sanity: interleaving bounds the code range of a quadrant
    assert(morton(255, 255) == 65535L && morton(255, 0) == 21845L)
  }

  test("mortonExpr is a bijection [0,255]^2 -> [0,65535] (property, 2k samples)") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // deterministic pseudo-random sample of the domain; bijectivity over
    // the sample = no collisions + every code in range + exact inverse
    val pts = (0 until 2048).map { i =>
      val x = (i * 131) % 256
      val y = (i * 197 + 89) % 256
      (x, y)
    }.distinct
    val got = pts.toDF("xq", "yq")
      .select(col("xq"), col("yq"), expr(ZonedParquet.mortonExpr("xq", "yq")).as("z"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))
    assert(got.map(_._2).distinct.length == pts.length, "collision found")
    got.foreach { case ((x, y), z) =>
      assert(z >= 0 && z <= 65535, s"code out of range: $z")
      // exact inverse: de-interleave even bits -> x, odd bits -> y
      val xi = (0 until 8).map(k => (((z >> (2 * k)) & 1) << k).toInt).sum
      val yi = (0 until 8).map(k => (((z >> (2 * k + 1)) & 1) << k).toInt).sum
      assert(xi == x && yi == y, s"inverse mismatch at ($x, $y): got ($xi, $yi)")
    }
  }

  test("cluster: every bucket's zone interval contains all its rows (both columns)") {
    spark.sparkContext.setLogLevel("WARN")
    val z = ZonedParquet.cluster(spark, sf, "lineitem", "l_partkey", "l_suppkey")
    // zone containment, checked distributed: rows outside their bucket's
    // [min, max] on either clustered column would break skipping soundness
    val zonesX = ZonedParquet.zoneMap(z, "l_partkey")
    val zonesY = ZonedParquet.zoneMap(z, "l_suppkey")
    assert(zonesX.length <= 256 && zonesX.nonEmpty)
    val contained = z.df.groupBy(col("zbucket"))
      .agg(min(col("l_partkey")).as("mnx"), max(col("l_partkey")).as("mxx"),
        min(col("l_suppkey")).as("mny"), max(col("l_suppkey")).as("mxy"))
      .collect()
      .map(r => (r.getAs[Int]("zbucket"),
        (r.getAs[Long]("mnx"), r.getAs[Long]("mxx"), r.getAs[Long]("mny"), r.getAs[Long]("mxy"))))
      .toMap
    zonesX.foreach { case (b, mn, mx) =>
      assert(contained(b)._1 == mn && contained(b)._2 == mx, s"x zone of bucket $b")
    }
    zonesY.foreach { case (b, mn, mx) =>
      assert(contained(b)._3 == mn && contained(b)._4 == mx, s"y zone of bucket $b")
    }
  }

  test("prunedScan equals the flat-table filter and actually skips buckets") {
    spark.sparkContext.setLogLevel("WARN")
    val z = ZonedParquet.cluster(spark, sf, "lineitem", "l_partkey", "l_suppkey")
    val hi = z.xMin + (z.xMax - z.xMin) / 16
    val pruned = ZonedParquet.prunedScan(z, "l_partkey", hi)
      .agg(count(lit(1)).as("n"), sum(col("l_suppkey")).as("s")).collect()(0)
    val flat = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_partkey") <= hi)
      .agg(count(lit(1)).as("n"), sum(col("l_suppkey")).as("s")).collect()(0)
    assert(pruned.getLong(0) == flat.getLong(0) && pruned.getLong(1) == flat.getLong(1),
      s"pruned ($pruned) must equal flat ($flat)")
    // the layout must let the predicate skip most buckets: qualifying
    // buckets are those whose x-zone clears hi — far fewer than all
    val qualifying = ZonedParquet.zoneMap(z, "l_partkey").count(_._2 <= hi)
    val total = ZonedParquet.zoneMap(z, "l_partkey").length
    assert(qualifying < total / 2,
      s"bottom-1/16 predicate should prune >half the buckets ($qualifying/$total)")
  }
}
