package graft

import org.apache.spark.sql.functions._

import graft.operators.Layout

/** The measurable claim behind layout_zorder_buckets: files written in
  * Z-order carry tight min/max envelopes on BOTH interleaved columns, so
  * footer stats prune scans filtered on EITHER — while a single-column
  * sort leaves the second column's per-file ranges table-wide (no pruning
  * possible). Asserted on real parquet writes of the same data.
  */
class ZorderLayoutSpec extends SparkSpec {

  // mean per-file range width of both dims for a given layout
  private def meanWidths(path: String): (Double, Double) = {
    val rows = spark.read.parquet(path)
      .groupBy(input_file_name())
      .agg(
        (max(col("px")) - min(col("px"))).as("wp"),
        (max(col("sx")) - min(col("sx"))).as("ws"))
      .collect()
    assert(rows.length > 1, "layout write produced a single file")
    (rows.map(_.getAs[Long]("wp")).sum.toDouble / rows.length,
      rows.map(_.getAs[Long]("ws")).sum.toDouble / rows.length)
  }

  test("z-order write bounds per-file ranges on both dims; 1-col sort does not") {
    // two high-cardinality dims (suppkey spans only 1..10 at sf0.001 — its
    // whole domain fits in one Z-tile, so it can't demonstrate bounding);
    // 16 files ≈ one 64×64 sub-quadrant of the 256×256 domain each
    val base = Tables.lineitem(spark, sf0001)
      .select((col("l_partkey") % 256).as("px"),
              (col("l_orderkey") % 256).as("sx"))
      .withColumn("z", Layout.zkey(col("px"), col("sx")))

    def widths(prefix: String, key: String): (Double, Double) =
      TempDirs.withDir(prefix) { d =>
        base.repartitionByRange(16, col(key)).sortWithinPartitions(col(key))
          .drop(col("z")).write.mode("overwrite").parquet(d.toString)
        meanWidths(d.toString)
      }
    val (zwPx, zwSx) = widths("graft_layout_zorder", "z")
    val (pwPx, pwSx) = widths("graft_layout_partsort", "px")

    val globalSx = base.agg(max(col("sx")) - min(col("sx"))).head().getLong(0)

    // px-sorted layout: px tightly bounded, sx (= orderkey%256) ~ global width
    assert(pwPx < zwPx, s"1-col sort should win on its own key: $pwPx vs $zwPx")
    assert(pwSx > 0.8 * globalSx,
      s"1-col sort unexpectedly bounds the other dim sx: $pwSx vs global $globalSx")
    // z-order: BOTH dims bounded well below global width
    assert(zwSx < 0.5 * globalSx,
      s"z-order did not bound sx (orderkey%256): $zwSx vs global $globalSx")
    val globalPx = base.agg(max(col("px")) - min(col("px"))).head().getLong(0)
    assert(zwPx < 0.5 * globalPx,
      s"z-order did not bound px (partkey%256): $zwPx vs global $globalPx")
  }

  test("hilbert envelopes beat morton on non-aligned bucket boundaries") {
    // At power-of-4-aligned boundaries both curves tile perfectly (equal
    // envelopes); real file boundaries are byte-sized, so the comparison
    // that matters is the misaligned one — 3000-cell ranges, where the
    // Morton curve's quadrant jumps widen the bounding box while Hilbert's
    // step-adjacency keeps regions compact. Measured on the EXHAUSTIVE
    // 256×256 grid (every cell once): the sparse sf0.001 relation puts
    // only ~6k points on the 65k-cell grid, so per-bucket bboxes of a
    // handful of occupied cells measure sample noise, not curve locality
    // (r7 saw 504 vs 500 there). Full-grid ground truth: 4562 vs 7575.
    val base = spark.range(65536).select(
      (col("id") % 256).as("px"),
      expr("id DIV 256").as("sx"))
    def meanBbox(bucketed: org.apache.spark.sql.RelationalGroupedDataset): Double = {
      val rows = bucketed
        .agg(
          (max(col("px")) - min(col("px")) + 1).as("wp"),
          (max(col("sx")) - min(col("sx")) + 1).as("ws"))
        .collect()
      rows.map(r => r.getAs[Long]("wp").toDouble * r.getAs[Long]("ws")).sum / rows.length
    }
    val hil = Layout.hilbertRounds(base)
      .withColumn("b", expr("d DIV 3000")).groupBy(col("b"))
    // morton key of the SAME 8-bit grid, same non-aligned bucket size
    val mor = base
      .withColumn("z", Layout.zkey(col("px"), col("sx"))) // 8-bit inputs → 16-bit key
      .withColumn("b", expr("z DIV 3000")).groupBy(col("b"))
    val (ha, ma) = (meanBbox(hil), meanBbox(mor))
    info(f"full-grid mean bucket bbox area: hilbert $ha%.0f vs morton $ma%.0f")
    assert(ha < 0.75 * ma,
      s"hilbert ($ha) should beat morton ($ma) decisively on misaligned ranges")

    // the sparse data relation, for reference only (sample noise at sf0.001)
    val data = Tables.lineitem(spark, sf0001)
      .select((col("l_partkey") % 256).as("px"),
              (col("l_suppkey") % 256).as("sx"))
    val hd = meanBbox(Layout.hilbertRounds(data)
      .withColumn("b", expr("d DIV 3000")).groupBy(col("b")))
    val md = meanBbox(data
      .withColumn("z", Layout.zkey(col("px"), col("sx")))
      .withColumn("b", expr("z DIV 3000")).groupBy(col("b")))
    info(f"sparse-data mean bucket bbox area (info only): hilbert $hd%.0f vs morton $md%.0f")
  }
}
