package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GridConfig
import graft.functions.GeoExprs
import graft.web.Pages

/**
 * The compact codegen kernels that replaced the merged-exchange join
 * condition's inline Column chains (round 6: the chains pushed the generated
 * doConsume past the JVM's 8000-byte JIT ceiling) must be BIT-IDENTICAL for
 * finite non-null inputs to those chains: merged_ref_dedup vs the
 * when(isCoarse,...) clampIdx formula, fine_cover_cnt vs the 4-clampIdx
 * product. Randomized MBR pairs plus the
 * exact level-encoded tiles both formulas route on, including off-grid MBRs
 * (clamping) and degenerate point MBRs.
 */
class MergedKernelParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val grid: GridConfig = Pages.WorldGrid
  private val LvlOffset = 1L << 40

  /** The pre-round-6 Column formulas, verbatim. */
  private def clampIdx(c: Column, ext: Double, lo: Double, ppd: Int): Column =
    least(greatest(floor((c - lit(lo)) / lit(ext)).cast("long"), lit(0L)),
      lit(ppd - 1L))
  private def refCellOld(fine: Boolean, ax: Column, ay: Column,
                         bx: Column, by: Column): Column = {
    val (extX, extY, ppd, off) =
      if (fine) (grid.fineExtX, grid.fineExtY, grid.globalPpd, 0L)
      else (grid.coarseExtX, grid.coarseExtY, grid.coarsePpd, LvlOffset)
    val refI = clampIdx(greatest(ax, bx), extX, grid.xMin, ppd)
    val refJ = clampIdx(greatest(ay, by), extY, grid.yMin, ppd)
    refI + refJ * lit(ppd.toLong) + lit(off)
  }
  private def dedupOld: Column = {
    val isCoarse = col("tile") >= lit(LvlOffset)
    when(isCoarse,
      refCellOld(fine = false, col("axmin"), col("aymin"), col("bxmin"), col("bymin")) === col("tile"))
      .otherwise(
        refCellOld(fine = true, col("axmin"), col("aymin"), col("bxmin"), col("bymin")) === col("tile"))
  }
  private def coverOld(p: String): Column = {
    val iMin = clampIdx(col(p + "xmin"), grid.fineExtX, grid.xMin, grid.globalPpd)
    val iMax = clampIdx(col(p + "xmax"), grid.fineExtX, grid.xMin, grid.globalPpd)
    val jMin = clampIdx(col(p + "ymin"), grid.fineExtY, grid.yMin, grid.globalPpd)
    val jMax = clampIdx(col(p + "ymax"), grid.fineExtY, grid.yMin, grid.globalPpd)
    (iMax - iMin + lit(1L)) * (jMax - jMin + lit(1L))
  }

  /** Randomized fixture: MBR pairs (some off-grid, some degenerate points)
    * crossed with fine/coarse tiles derived from the pair itself (the join
    * only ever evaluates the condition on tiles a side emitted) plus
    * perturbed tiles (dedup false cases). */
  private def fixture = {
    val rnd = new scala.util.Random(20260822L)
    val rows = (1 to 2000).map { i =>
      def coord(lo: Double, span: Double) = lo + rnd.nextDouble() * span
      // mix: in-grid, partially off-grid, degenerate (point) MBRs
      val ax0 = coord(-200, 400); val ay0 = coord(-100, 200)
      val aw = if (i % 5 == 0) 0.0 else rnd.nextDouble() * (if (i % 3 == 0) 40 else 2)
      val ah = if (i % 5 == 0) 0.0 else rnd.nextDouble() * (if (i % 3 == 0) 20 else 1)
      val bx0 = coord(-200, 400); val by0 = coord(-100, 200)
      val bw = rnd.nextDouble() * 2; val bh = rnd.nextDouble() * 1
      val fineT = grid.fineTileOfPoint(math.max(ax0, bx0), math.max(ay0, by0))
      val coarseT = LvlOffset + {
        val ci = math.min(math.max(grid.coarseX(math.max(ax0, bx0)), 0), grid.coarsePpd - 1)
        val cj = math.min(math.max(grid.coarseY(math.max(ay0, by0)), 0), grid.coarsePpd - 1)
        ci.toLong + cj.toLong * grid.coarsePpd
      }
      val tile = (i % 4) match {
        case 0 => fineT
        case 1 => coarseT
        case 2 => fineT + rnd.nextInt(5) - 2   // perturbed: dedup false cases
        case _ => coarseT + rnd.nextInt(5) - 2
      }
      (tile, ax0, ay0, ax0 + aw, ay0 + ah, bx0, by0, bx0 + bw, by0 + bh)
    }
    spark.createDataFrame(rows).toDF("tile", "axmin", "aymin", "axmax", "aymax",
      "bxmin", "bymin", "bxmax", "bymax")
  }

  test("merged_ref_dedup is bit-identical to the inline clampIdx/CASE chain") {
    val df = fixture.withColumn("new",
        GeoExprs.mergedRefDedup(col("tile"), col("axmin"), col("aymin"),
          col("bxmin"), col("bymin"), grid, LvlOffset))
      .withColumn("old", dedupOld)
    val diff = df.where(col("new") =!= col("old")).count()
    assert(diff == 0, s"$diff rows disagree")
    // both outcomes exercised
    assert(df.where(col("new")).count() > 0)
    assert(df.where(!col("new")).count() > 0)
  }

  test("fine_cover_cnt is bit-identical to the 4-clampIdx product") {
    val df = fixture.withColumn("new",
        GeoExprs.fineCoverCount(col("axmin"), col("aymin"),
          col("axmax"), col("aymax"), grid))
      .withColumn("old", coverOld("a"))
    assert(df.where(col("new") =!= col("old")).count() == 0)
    assert(df.where(col("new") > 16).count() > 0) // wide cases exercised
    assert(df.where(col("new") === 1).count() > 0)
  }
}
