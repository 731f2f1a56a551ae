package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GeomType, GridConfig, HexGrid}
import graft.functions.{GeoExprs, GeoKernels}
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
 *
 * Each Column binding (a StaticInvoke of its kernel) also equals a direct
 * call of that kernel, under whole-stage codegen and interpreted, with null
 * inputs: a null argument gives a null result, except lvl_tiles, which
 * reads a null MBR field as NaN (no tiles) and a null gtype as -1.
 */
class MergedKernelParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val grid: GridConfig = Pages.WorldGrid
  private val LvlOffset = 1L << 40

  /** `body` under whole-stage codegen, then on the interpreted eval path. */
  private def inModes(body: Map[String, String] => Unit): Unit =
    Seq(Map.empty[String, String],
      Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")).foreach { mode =>
      mode.foreach { case (k, v) => spark.conf.set(k, v) }
      try body(mode) finally mode.keys.foreach(spark.conf.unset)
    }

  /** Doubles as raw bits (NaN and -0.0 included), recursively. */
  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits).toList
    case r: Row => r.toSeq.map(bits).toList
    case other => other
  }

  /** `binding` over `df` equals `kernel` on each row's `args`, bit for bit,
    * in both modes. */
  private def bindingParity(df: DataFrame, binding: Column, args: String*)(
      kernel: Row => Any): Unit =
    inModes { mode =>
      val out = df.select(args.map(col) :+ binding: _*).collect()
      assert(out.nonEmpty)
      out.foreach { r =>
        assert(bits(r.get(args.size)) == bits(kernel(r)), s"$mode: $r")
      }
    }

  /** null if any of the row's first `n` fields is null, else `v`. */
  private def nullOr(r: Row, n: Int)(v: => Any): Any =
    if ((0 until n).exists(r.isNullAt)) null else v

  /** `df` plus, for each of `cols` in turn, a few rows with it null. */
  private def withNulls(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df) { (acc, c) =>
      acc.union(df.limit(8).withColumn(c, lit(null).cast(df.schema(c).dataType)))
    }

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
    // the binding is the kernel call
    val args = Seq("tile", "axmin", "aymin", "bxmin", "bymin")
    bindingParity(withNulls(fixture, args: _*),
      GeoExprs.mergedRefDedup(col("tile"), col("axmin"), col("aymin"),
        col("bxmin"), col("bymin"), grid, LvlOffset), args: _*) { r =>
      nullOr(r, 5)(GeoKernels.refCellDedup(r.getLong(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4), grid, LvlOffset))
    }
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
    def binding(f: Boolean, cn: Boolean, cw: Boolean) = GeoExprs.lvlTiles(
      col("gtype"), col("xmin"), col("ymin"), col("xmax"), col("ymax"), grid,
      LvlOffset, 16, f, cn, cw)
    // whole-stage codegen, then the interpreted eval path
    inModes { mode =>
      for ((f, cn, cw) <- flags) {
        val out = df.select(binding(f, cn, cw).as("new"),
          lvlTilesOld(16, f, cn, cw).as("old"))
        val diff = out.where(!(col("new") <=> col("old"))).count()
        assert(diff == 0, s"flags ($f, $cn, $cw) $mode: $diff rows disagree")
        if (f || cn || cw) assert(out.where(size(col("new")) > 0).count() > 0)
      }
    }
    // the binding is the kernel call, a null field read as NaN (gtype -1)
    for ((f, cn, cw) <- flags)
      bindingParity(df, binding(f, cn, cw), "gtype", "xmin", "ymin", "xmax",
        "ymax") { r =>
        def d(i: Int) = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
        GeoKernels.lvlTiles(if (r.isNullAt(0)) -1 else r.getInt(0), d(1), d(2),
          d(3), d(4), grid, LvlOffset, 16, f, cn, cw).toLongArray().toSeq
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
    val all = spark.createDataFrame(
      java.util.Arrays.asList(coords.map(c => org.apache.spark.sql.Row(c)): _*),
      schema)
    val df = all.where(size(col("c")) >= 2)
    val out = df.select(col("c") +: old(col("c")) :+
      GeoExprs.coordsMbr(col("c")): _*).collect()
    assert(out.length == coords.size - 3)
    // bit for bit: the raw long bits (NaN and -0.0 included), or both null
    out.foreach { r =>
      (0 until 4).foreach { k =>
        val (o, n) = (r.get(1 + k), r.getStruct(5).get(k))
        assert(bits(o) == bits(n), s"field $k of ${r.getSeq[Any](0)}: $o vs $n")
      }
    }
    // the binding is the kernel call, on every array (null, empty and
    // one-element ones included)
    bindingParity(all, GeoExprs.coordsMbr(col("c")), "c") { r =>
      nullOr(r, 1) {
        val m = GeoKernels.coordsMbr(new GenericArrayData(r.getSeq[Any](0).toArray))
        (0 until 4).map(k => if (m.isNullAt(k)) null else m.getDouble(k))
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
    // the binding is the kernel call
    val args = Seq("axmin", "aymin", "axmax", "aymax")
    bindingParity(withNulls(fixture, args: _*), GeoExprs.fineCoverCount(
        col("axmin"), col("aymin"), col("axmax"), col("aymax"), grid),
      args: _*) { r =>
      nullOr(r, 4)(GeoKernels.fineCoverCnt(r.getDouble(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), grid))
    }
  }

  test("hilbert_cell, star_poly, page_url, page_text and hex_cell_wkt bindings are their kernels") {
    import spark.implicits._
    val specials = Seq[Option[Double]](None, Some(Double.NaN),
      Some(Double.PositiveInfinity), Some(Double.NegativeInfinity),
      Some(-500.0), Some(500.0), Some(-180.0), Some(0.0), Some(13.37),
      Some(89.99))
    val xy = (for (x <- specials; y <- specials) yield (x, y)).toDF("x", "y")
    val order = 10
    val n = 1L << order
    bindingParity(xy, GeoExprs.hilbertCell(col("x"), col("y"), grid.xMin,
        grid.yMin, grid.xExtent, grid.yExtent, order), "x", "y") { r =>
      nullOr(r, 2)(GeoKernels.pointCell(r.getDouble(0), r.getDouble(1),
        grid.xMin, grid.yMin, grid.xExtent / n, grid.yExtent / n, n))
    }

    val stars = (Seq[(Option[Long], Option[Double], Option[Double], Option[Double])](
      (None, Some(1.0), Some(2.0), Some(0.5)), (Some(3L), None, Some(2.0), Some(0.5)),
      (Some(4L), Some(1.0), None, Some(0.5)), (Some(5L), Some(1.0), Some(2.0), None)) ++
      (0L until 40L).map(i => (Some(i * 7919L), Some(i - 20.0), Some(i / 3.0),
        Some(0.1 + i % 5)))).toDF("id", "cx", "cy", "rad")
    bindingParity(stars, GeoExprs.starPoly(col("id"), col("cx"), col("cy"),
        col("rad"), 8, 5, 0.6, 0.4), "id", "cx", "cy", "rad") { r =>
      nullOr(r, 4)(GeoKernels.starPoly(r.getLong(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), 8, 5, 0.6, 0.4).toDoubleArray().toSeq)
    }

    val ids = (Seq[Option[Long]](None, Some(Long.MinValue), Some(-1L), Some(0L),
      Some(Long.MaxValue)) ++ (1L to 60L).map(i => Some(i * 104729L))).toDF("id")
    bindingParity(ids, GeoExprs.pageUrl(col("id")), "id") { r =>
      nullOr(r, 1)(Pages.urlUtf8(r.getLong(0)).toString)
    }
    bindingParity(ids, GeoExprs.pageText(col("id")), "id") { r =>
      nullOr(r, 1)(Pages.textUtf8(r.getLong(0)).toString)
    }
    bindingParity(ids, GeoExprs.pageLang(col("id")), "id") { r =>
      nullOr(r, 1)(Pages.langUtf8(r.getLong(0)).toString)
    }
    bindingParity(ids, GeoExprs.pageWarcMillis(col("id")), "id") { r =>
      nullOr(r, 1)(Pages.warcMillis(r.getLong(0)))
    }

    val cells = (None +: (for (x <- Seq(-179.5, -77.03, 0.0, 13.37, 179.5);
                               y <- Seq(-85.0, 0.0, 38.9, 85.0); res <- Seq(0, 5, 9))
      yield Some(HexGrid.latLngToCell(x, y, res)))).toDF("cell")
    bindingParity(cells, GeoExprs.hexCellWkt(col("cell")), "cell") { r =>
      nullOr(r, 1)(GeoKernels.hexCellWkt(r.getLong(0)).toString)
    }
    // a null argument gives a null result, so only a nullable input makes
    // the binding nullable
    val nonNull = spark.range(3).select(GeoExprs.pageUrl(col("id")))
    assert(!nonNull.schema.head.nullable)
    assert(ids.select(GeoExprs.pageUrl(col("id"))).schema.head.nullable)
  }
}
