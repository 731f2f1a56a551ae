package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GeomType, GridConfig}
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
 * (clamping) and degenerate point MBRs. The same holds for the kernels that
 * replaced lambda chains: lvl_tiles vs the tile emission's Column chain, and
 * coords_mbr vs the SQL rewrite's array_min/array_max over transform.
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

  /** The Column-chain tile emission `lvl_tiles` replaced (GeoEngine's
    * `lvlCoverArr` + `lvlTiles`), verbatim. */
  private def cellColOld(fine: Boolean, x: Column, y: Column): Column = {
    val (extX, extY, ppd) =
      if (fine) (grid.fineExtX, grid.fineExtY, grid.globalPpd)
      else (grid.coarseExtX, grid.coarseExtY, grid.coarsePpd)
    val cell = clampIdx(x, extX, grid.xMin, ppd) +
      clampIdx(y, extY, grid.yMin, ppd) * lit(ppd.toLong)
    if (fine) cell else cell + lit(LvlOffset)
  }
  private def lvlCoverArrOld(fine: Boolean): Column = {
    val (extX, extY, ppd) =
      if (fine) (grid.fineExtX, grid.fineExtY, grid.globalPpd)
      else (grid.coarseExtX, grid.coarseExtY, grid.coarsePpd)
    val iMin = clampIdx(col("xmin"), extX, grid.xMin, ppd)
    val iMax = clampIdx(col("xmax"), extX, grid.xMin, ppd)
    val jMin = clampIdx(col("ymin"), extY, grid.yMin, ppd)
    val jMax = clampIdx(col("ymax"), extY, grid.yMin, ppd)
    val pl = lit(ppd.toLong)
    def tag(c: Column) = if (fine) c else c + lit(LvlOffset)
    val cover = flatten(transform(sequence(jMin, jMax),
      j => transform(sequence(iMin, iMax), i => tag(i + j * pl))))
    when(col("gtype") === GeomType.POINT,
      array(cellColOld(fine, col("xmin"), col("ymin")))).otherwise(cover)
  }
  private def lvlTilesOld(maxFineCover: Int, emitF: Boolean,
      emitCNarrow: Boolean, emitCWide: Boolean): Column = {
    val emptyA = typedlit(Array.empty[Long])
    def covers(fine: Boolean, coarse: Boolean): Column =
      Seq(fine -> true, coarse -> false).collect {
        case (true, lvl) => lvlCoverArrOld(fine = lvl)
      }.reduceOption(concat(_, _)).getOrElse(emptyA)
    val wide = GeoExprs.fineCoverCount(col("xmin"), col("ymin"), col("xmax"),
      col("ymax"), grid) > maxFineCover
    val nan = Seq("xmin", "ymin", "xmax", "ymax")
      .map(c => isnan(col(c)) || col(c).isNull).reduce(_ || _)
    val guarded = when(nan, emptyA)
    if (!emitF && !emitCNarrow && !emitCWide) emptyA
    else if (!emitF && emitCNarrow == emitCWide) guarded.otherwise(covers(false, true))
    else guarded.when(wide, covers(false, emitCWide))
      .otherwise(covers(emitF, emitCNarrow))
  }

  /** POINT / BOX / POLYGON (and null) gtypes over random narrow and wide
    * MBRs, one-cell and grid-spanning rectangles, inverted bounds, and
    * each MBR field in turn null, NaN, ±Infinity or off the grid. */
  private def tileFixture = {
    val rnd = new scala.util.Random(20261019L)
    val gtypes = Seq[Option[Int]](Some(GeomType.POINT), Some(GeomType.BOX),
      Some(GeomType.POLYGON), None)
    val cellW = grid.fineExtX
    val base: Seq[Seq[Option[Double]]] =
      (1 to 120).map { i =>
        val x0 = -185 + rnd.nextDouble() * 370; val y0 = -95 + rnd.nextDouble() * 190
        val w = rnd.nextDouble() * (if (i % 3 == 0) 30 else 2)
        val h = rnd.nextDouble() * (if (i % 3 == 0) 15 else 1)
        Seq(x0, y0, x0 + w, y0 + h).map(Some(_))
      } ++ Seq(
        Seq(10.1 * cellW, 3.2 * cellW, 10.6 * cellW, 3.7 * cellW), // one cell
        Seq(grid.xMin, grid.yMin, grid.xMax, grid.yMax),           // the grid
        Seq(-400.0, -300.0, 400.0, 300.0),                         // beyond it
        Seq(5.0, 5.0, 4.0, 4.5),                                   // inverted x
        Seq(5.0, 5.0, 5.5, 4.0),                                   // inverted y
        Seq(50.0, 40.0, 10.0, 20.0)                                // inverted, wide
      ).map(_.map(Some(_)))
    val specials = Seq[Option[Double]](None, Some(Double.NaN),
      Some(Double.PositiveInfinity), Some(Double.NegativeInfinity),
      Some(1e300), Some(-1e300), Some(500.0), Some(-500.0))
    val edited = for {
      s <- specials; f <- 0 until 4
    } yield base(f).updated(f, s)
    val rows = for {
      (mbr, k) <- (base ++ edited).zipWithIndex; g <- gtypes
    } yield (k.toLong, g, mbr(0), mbr(1), mbr(2), mbr(3))
    spark.createDataFrame(rows).toDF("id", "gtype", "xmin", "ymin", "xmax", "ymax")
  }

  test("lvl_tiles is element-for-element equal to the Column-chain emission") {
    val df = tileFixture.cache()
    val flags = for (f <- Seq(false, true); cn <- Seq(false, true);
                     cw <- Seq(false, true)) yield (f, cn, cw)
    // whole-stage codegen, then the interpreted eval path
    val modes = Seq(Map.empty[String, String],
      Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for (mode <- modes; (f, cn, cw) <- flags) {
      mode.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val out = df.select(
          GeoExprs.lvlTiles(col("gtype"), col("xmin"), col("ymin"), col("xmax"),
            col("ymax"), grid, LvlOffset, 16, f, cn, cw).as("new"),
          lvlTilesOld(16, f, cn, cw).as("old"))
        val diff = out.where(!(col("new") <=> col("old"))).count()
        assert(diff == 0, s"flags ($f, $cn, $cw) $mode: $diff rows disagree")
        if (f || cn || cw) assert(out.where(size(col("new")) > 0).count() > 0)
      } finally mode.keys.foreach(spark.conf.unset)
    }
    // a NaN or null field empties the cover; ±Infinity clamps to the edge
    val all = df.select(col("*"), GeoExprs.lvlTiles(col("gtype"), col("xmin"),
      col("ymin"), col("xmax"), col("ymax"), grid, LvlOffset, 16,
      emitF = true, emitCNarrow = true, emitCWide = true).as("t"))
    assert(all.where(isnan(col("xmax")) || col("ymin").isNull)
      .where(size(col("t")) =!= 0).isEmpty)
    assert(all.where(col("xmax") === Double.PositiveInfinity)
      .where(size(col("t")) > 0).count() > 0)
    df.unpersist()
  }

  test("coords_mbr is bit-identical to the sequence/transform/array_min chain") {
    def old(cc: Column): Seq[Column] = {
      val idx = sequence(lit(1), (size(cc) / 2).cast("int"))
      val xs = transform(idx, i => element_at(cc, i * 2 - 1))
      val ys = transform(idx, i => element_at(cc, i * 2))
      Seq(array_min(xs), array_min(ys), array_max(xs), array_max(ys))
    }
    def jd(ds: Any*): Seq[java.lang.Double] = ds.map {
      case null => null
      case d: Double => java.lang.Double.valueOf(d)
    }
    val rnd = new scala.util.Random(7L)
    val special = jd(null, Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity)
    // odd lengths keep a trailing x; every 4th row mixes in special values;
    // arrays under one vertex are dropped by the rewrite's size filter
    val coords: Seq[Seq[java.lang.Double]] = (1 to 400).map { i =>
      (0 until 2 + rnd.nextInt(9)).map { _ =>
        if (i % 4 == 0 && rnd.nextInt(3) == 0) special(rnd.nextInt(special.size))
        else java.lang.Double.valueOf(rnd.nextInt(7) - 3.0)
      }
    } ++ Seq(jd(Double.NaN, Double.NaN), jd(null, null, 1.0, 2.0),
      jd(0.0, -0.0, -0.0, 0.0), jd(1.0, 2.0, 3.0), jd(1.0), jd(), null)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = true))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(coords.map(c => org.apache.spark.sql.Row(c)): _*),
      schema).where(size(col("c")) >= 2)
    val out = df.select(col("c") +: old(col("c")) :+
      GeoExprs.coordsMbr(col("c")): _*).collect()
    assert(out.length == coords.size - 3)
    // bit for bit: the raw long bits (NaN and -0.0 included), or both null
    def bits(v: Any) = Option(v).map(d =>
      java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double]))
    out.foreach { r =>
      (0 until 4).foreach { k =>
        val (o, n) = (r.get(1 + k), r.getStruct(5).get(k))
        assert(bits(o) == bits(n), s"field $k of ${r.getSeq[Any](0)}: $o vs $n")
      }
    }
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
