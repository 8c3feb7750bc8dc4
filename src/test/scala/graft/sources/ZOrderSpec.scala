package graft.sources

import scala.jdk.CollectionConverters._

import graft.{SparkSpec, Tables}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {

  private val root = s"$outRoot/zorder-spec"

  /** Reference Morton interleave for the low 16 bits of (a, b). */
  private def morton(a: Long, b: Long): Long = {
    def spread(x0: Long): Long = {
      var x = x0 & 0xFFFFL
      x = (x | (x << 8)) & 0x00FF00FFL
      x = (x | (x << 4)) & 0x0F0F0F0FL
      x = (x | (x << 2)) & 0x33333333L
      (x | (x << 1)) & 0x55555555L
    }
    spread(a) | (spread(b) << 1)
  }

  test("zValue2 equals the reference Morton interleave bit-for-bit") {
    import spark.implicits._
    val samples = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (149L, 490L), (255L, 256L))
    val got = samples.toDF("a", "b")
      .select(ZOrder.zValue2(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0))
    val want = samples.map { case (a, b) => morton(a, b) }
    assert(got.toSeq === want,
      s"expression diverges from reference morton: ${got.toSeq} vs $want")
    // interleave is injective on the masked domain
    assert(want.distinct.size === want.size)
  }

  /** Per-file [min, max] of a double column from the parquet footers. */
  private def valueStats(dir: String): Seq[(Double, Double)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    fs.listStatus(new Path(dir)).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .flatMap { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
        try r.getFooter.getBlocks.asScala.toSeq.map { block =>
          val st = block.getColumns.asScala
            .find(_.getPath.toDotString == "value").get.getStatistics
          (st.genericGetMin.asInstanceOf[java.lang.Double].doubleValue,
            st.genericGetMax.asInstanceOf[java.lang.Double].doubleValue)
        } finally r.close()
      }
  }

  test("z-ordered layout keeps secondary-dimension stats narrow (row-group skipping)") {
    val events = Tables.events(spark, sfTiny)
      .select(col("user_id"), col("value"), col("event_id"))
    val zPath = s"$root/z"
    val aPath = s"$root/a-sorted"
    ZOrder.writeZOrdered(events, zPath,
      col("user_id"), floor(col("value")).cast("long"), nFiles = 16)
    // the single-dimension alternative: range-partitioned + sorted by user_id
    events.repartitionByRange(16, col("user_id"))
      .sortWithinPartitions(col("user_id"))
      .write.mode("overwrite").parquet(aPath)

    // a VALUE-ONLY range: the a-sorted layout has no value locality, so
    // ~every row group intersects; the z-curve tiles both dimensions, so
    // most groups' [min,max] miss the band entirely
    val (lo, hi) = (50.0, 80.0)
    def intersecting(stats: Seq[(Double, Double)]): Int =
      stats.count { case (mn, mx) => mx >= lo && mn <= hi }
    val zStats = valueStats(zPath)
    val aStats = valueStats(aPath)
    val (zHit, aHit) = (intersecting(zStats), intersecting(aStats))
    info(s"value-band row groups: z-ordered $zHit/${zStats.size}, " +
      s"a-sorted $aHit/${aStats.size}")
    assert(zHit < aHit,
      s"z-order gave no skipping advantage: $zHit vs $aHit")
    assert(zHit <= zStats.size / 2,
      s"z-order should skip at least half the row groups for a narrow band ($zHit/${zStats.size})")
    // row totals survive the rewrite
    assert(spark.read.parquet(zPath).count() === events.count())
  }

  test("hilbert2 is a bijection on the full grid; consecutive cells are ADJACENT") {
    import spark.implicits._
    val order = 4
    val side = 1 << order // 16x16 grid
    val cells = for (x <- 0 until side; y <- 0 until side)
      yield (x.toLong, y.toLong)
    val d2xy = cells.toDF("x", "y")
      .select(col("x"), col("y"),
        ZOrder.hilbert2(col("x"), col("y"), order).as("d"))
      .collect().map(r => r.getLong(2) -> (r.getLong(0), r.getLong(1)))
      .toMap
    // bijection: every cell gets a distinct index covering [0, side²)
    assert(d2xy.size === side * side)
    assert(d2xy.keySet === (0L until (side.toLong * side)).toSet)
    // THE Hilbert property Morton lacks: every step of the curve moves to
    // a grid-NEIGHBOUR (|Δx|+|Δy| == 1, never a diagonal/seam jump)
    (0L until (side.toLong * side - 1)).foreach { d =>
      val (x0, y0) = d2xy(d); val (x1, y1) = d2xy(d + 1)
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) === 1,
        s"jump at d=$d: ($x0,$y0) -> ($x1,$y1)")
    }
    // Morton, by contrast, jumps at every power-of-2 seam — count them
    val mortonJumps = (0 until side * side - 1).count { d =>
      def unspread(z: Long): (Long, Long) = {
        var x = 0L; var y = 0L
        (0 until 32).foreach { i =>
          x |= ((z >> (2 * i)) & 1L) << i
          y |= ((z >> (2 * i + 1)) & 1L) << i
        }
        (x, y)
      }
      val (x0, y0) = unspread(d.toLong)
      val (x1, y1) = unspread(d.toLong + 1)
      math.abs(x1 - x0) + math.abs(y1 - y0) > 1
    }
    assert(mortonJumps > 0,
      "sanity: the Morton walk over the same grid does jump")
  }

  test("hilbert layout keeps BOTH dimensions' zones tight (vs single-sort)") {
    val root = s"$outRoot/test-out/zorder-hilbert"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val ev = Tables.events(spark, sfTiny)
      .select(col("event_id"), col("user_id"),
        floor(col("value")).cast("long").as("v"))
    val hPath = s"$root/hilbert"
    ZOrder.writeHilbertOrdered(ev, hPath, col("user_id"), col("v"),
      nFiles = 8, order = 8)
    val sPath = s"$root/single"
    ev.repartitionByRange(8, col("user_id"))
      .sortWithinPartitions(col("user_id"))
      .write.mode("overwrite").parquet(sPath)
    // zone maps on the SECONDARY dimension: hilbert files cover compact
    // rectangles so v-zones stay sub-global; a user_id sort scatters v
    ZoneMap.write(spark, hPath, Seq("user_id", "v"))
    ZoneMap.write(spark, sPath, Seq("user_id", "v"))
    def share(p: String, c: String) =
      ZoneMap.diagnose(spark, p, Seq(c))
        .select("width_share").head().getDouble(0)
    val (hV, sV) = (share(hPath, "v"), share(sPath, "v"))
    info(s"secondary-dim width_share: hilbert $hV vs single-sort $sV")
    assert(hV < sV,
      s"hilbert secondary-dim zones ($hV) should beat single-sort ($sV)")
    // sanity: single-sort leaves v broadly scattered (tiny files on the
    // sfTiny fixture don't each touch the extreme values, so the share
    // reads ~0.77, not ~1.0)
    assert(sV > 0.5, s"sanity: single-sort scatters v, got $sV")
    // lossless
    assert(spark.read.parquet(hPath).count() === ev.count())
  }

  test("hilbert kernel runs inside whole-stage codegen with a loop, not a tree") {
    val df = Tables.events(spark, sfTiny)
      .select(ZOrder.hilbert2(col("user_id"), col("event_id"), 16).as("h"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("hilbert_index") && l.trim.startsWith("*(")),
      s"hilbert_index fell out of codegen:\n$plan")
    // interpreted path agrees with the generated path
    val a = df.collect().map(_.getLong(0))
    val b = Tables.events(spark, sfTiny)
      .select(col("user_id"), col("event_id")).collect()
      .map(r => graft.functions.expressions.HilbertIndex.compute(
        r.getLong(0), r.getLong(1), 16))
    assert(a.sorted.sameElements(b.sorted))
  }
}
